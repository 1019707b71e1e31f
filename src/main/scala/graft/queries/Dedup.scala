package graft.queries

import graft.core.{Pins, Tables}
import graft.functions.{HashFunctions, HashedShinglesExpr, MinHashSigExpr, TextFunctions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Document deduplication — exact, n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design: nothing here is O(n²) on the corpus. Candidate pairs
  * always come from an equi-join on a blocking key (shingle / LSH band /
  * SimHash band), so the shuffle is keyed on the block and the quadratic
  * blowup is confined to same-block groups — the standard web-scale dedup
  * shape. All hashes are the engine's portable integer hashes
  * (`HashFunctions`), so every stage is oracle-reproducible.
  */
object Dedup extends QueryModule {

  // package-visible so DedupDifferentialSpec binds to the PRODUCTION
  // constants/pipeline, not a private copy that could drift
  private[graft] val P = 2147483647L // 2^31-1, Mersenne prime for minhash perms
  private[graft] val NumPerm = 16
  private[graft] val BandSize = 4 // => 4 bands
  private[graft] val SourceCap = 10 // d15: max docs kept per source

  /** doc_id + distinct hashed 3-gram shingle set (array<long>), via the
    * fused codegen'd `HashedShinglesExpr` — tokenize, token-hash, n-gram
    * fold, and distinct in ONE loop per row; a shingle never exists as a
    * string. This is the hot inner op of every D-row.
    */
  private def shingleArr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id",
        HashedShinglesExpr.hashedShingles($"text", 3).as("arr"))
  }

  /** ROWWISE MinHash band keys — the same NumPerm/BandSize signature as
    * [[minhashSig]]/[[lshBandPairs]] (the same permutation loop, so a
    * row's keys equal the batch path's bit-for-bit) computed straight
    * from the text. This is what a STREAMING near-dup filter needs —
    * band keys must exist before the first stateful operator. Keys are
    * prefixed with the band index (`"idx|k1,k2,.."`): two rows share a
    * key iff lshBandPairs would block them on that band. Empty-shingle
    * docs (< width tokens) get an empty array.
    */
  private[graft] def rowwiseBandKeys(text: Column): Column =
    graft.functions.MinHashBandsExpr.minhashBands(
      text, 3, NumPerm, BandSize, P)

  /** Shared candidate-pair generation, grouped by (doc_i < doc_j):
    * ONE exchange keyed on the shingle collects each block's
    * (doc_id[, n_sh]) list, then a codegen'd double-`explode` emits every
    * same-block ordered pair once per shared shingle. This replaces the
    * former two-sided self-join, which paid a second corpus scan +
    * shingle-expression pass and a second full shingle exchange plus two
    * sort-merge sorts for the identical pair stream. Emission volume is
    * unchanged (Σ_block df·(df−1)/2 — the exact-Jaccard candidate
    * volume both engines must aggregate); block width is the shingle's
    * document frequency — the same df² hot-key exposure the self-join
    * had, now visible as a per-block list.
    *
    * `sh` must carry (doc_id, shingle) and optionally n_sh; any extra
    * per-doc columns riding the rows are carried into the `a.`/`b.`
    * structs referenced by the caller's agg.
    */
  private def pairAgg(sh: DataFrame) = {
    val item = struct(sh.columns.filter(_ != "shingle").map(col).toSeq: _*)
    blockPairs(sh.groupBy(col("shingle")).agg(collect_list(item).as("docs")))
  }

  /** The emission half of [[pairAgg]], shared with [[lshBandPairs]]:
    * every same-block pair (a.doc_id < b.doc_id) of a
    * (docs: array<struct<doc_id, …>>) block frame, by a codegen'd
    * double-`explode`, grouped by (doc_i, doc_j). Each `carry` field of
    * the structs must be a function of doc_id: it joins the group key as
    * `<c>_i`/`<c>_j`, so it rides the pair rows without a join back.
    */
  private def blockPairs(blocks: DataFrame, carry: Seq[String] = Nil) =
    blocks.select(explode(col("docs")).as("a"), col("docs"))
      .select(col("a"), explode(col("docs")).as("b"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_i") +: col("b.doc_id").as("doc_j") +:
        carry.flatMap(c =>
          Seq(col(s"a.$c").as(s"${c}_i"), col(s"b.$c").as(s"${c}_j"))): _*)

  /** IDENTICAL-CONTENT PRE-COLLAPSE (round-15 verdict item 2 — d4's
    * distinct-hash pattern applied to the whole MinHash family): one row
    * per DISTINCT hashed-shingle array, `ids` = that content's member
    * doc_ids sorted ascending (so `ids[0]` is the group representative
    * AND the group's min doc_id). On a web-crawl-shaped corpus verbatim
    * copies are the dominant mass, and every doc-level pair derivation
    * here is a pure function of content — so pair-gen, LSH banding,
    * verification, and the CC fixpoint all run over representatives
    * only, and group membership expands back afterwards. The 10x gate
    * measured the cost of NOT doing this: the doc-level pair-gen read
    * 181.9 s on the verbatim-copy fixture where the collapsed path is
    * near its 1x cost (clique pair volume becomes group bookkeeping).
    */
  private def contentGroups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    shingleArr(s, dir)
      .groupBy($"arr")
      .agg(sort_array(collect_list($"doc_id")).as("ids"))
  }

  /** The ONE pinned non-empty content-group frame per (session, dir):
    * (arr, ids) — round 20, guide §2.4/§5. SIX consumers each rebuilt
    * this identical corpus pass + groupBy(arr) exchange per session
    * (repPairStats, the multi-group pin, both LSH rep pins, d11's rep
    * scoring frame, d18's ingest split) — the single most-repeated
    * subplan in the dedup family after the pair-gen itself. Pinning it
    * is the sharedPostings documented trade: O(corpus) rows (the arr
    * column ≈ the tokenized corpus) in MEMORY_AND_DISK, lineage
    * preserved so lost blocks recompute (PinRecoverySpec doctrine),
    * released by `Pins.evict`. Empty-shingle docs are excluded here
    * once — every consumer filtered them anyway (they share no shingle,
    * so they never pair, band, or group).
    */
  private def sharedContentGroups(s: SparkSession, dir: String): DataFrame =
    Pins.frame("content_groups", s, Some(dir)) {
      contentGroups(s, dir).filter(size(col("arr")) > 0)
    }

  /** Multi-member content groups with a non-empty shingle set:
    * (ids, n_sh). Empty-shingle docs never share a shingle, so their
    * "group" is excluded from all pairing/membership — they stay
    * singletons exactly as in the doc-level semantics.
    */
  private def multiGroupsOf(groups: DataFrame): DataFrame =
    groups.filter(size(col("arr")) > 0 && size(col("ids")) >= 2)
      .select(col("ids"), size(col("arr")).cast("long").as("n_sh"))

  /** Within-group ordered pairs (doc_i < doc_j via the sorted ids) of
    * any `ids` frame, its `carry` columns riding along — row-streamed
    * two-step explode, never one flattened quadratic array per group row
    * (a mega-group of verbatim copies would otherwise build its whole
    * clique in a single row's memory).
    */
  private def intraPairsOf(groups: DataFrame, carry: String*): DataFrame = {
    val c = carry.map(col)
    groups.select(c ++ Seq(col("ids"), posexplode(col("ids"))): _*)
      .select(c ++ Seq(col("col").as("doc_i"),
        explode(slice(col("ids"), col("pos") + lit(2), size(col("ids"))))
          .as("doc_j")): _*)
  }

  /** Membership expansion of a rep-pair frame to doc pairs — the one
    * path every doc-level pair frame here takes. Each (ids_i, ids_j, …)
    * row cross-explodes into (doc_i, doc_j) = (least, greatest) of its
    * members x ∈ ids_i, y ∈ ids_j, followed by `cols(x, y)`: by default
    * the `carry` columns as they are, while a column tied to the member
    * order can swap on x < y. The within-group rows `intra` (same
    * columns) follow. Carried columns keep `rep`'s order, so neither
    * explode needs a reordering projection. Consumer filters on carried
    * columns push below the explodes onto the rep frame, so only
    * surviving rep pairs expand.
    */
  private def expandPairs(rep: DataFrame, intra: DataFrame,
      carry: Seq[String] = Nil)(
      cols: (Column, Column) => Seq[Column] = (_, _) => carry.map(col))
      : DataFrame = {
    def inRepOrder(names: Seq[String]) =
      rep.columns.toSeq.filter(names.contains).map(col)
    val (x, y) = (col("x"), col("y"))
    rep.select(inRepOrder(carry :+ "ids_j") :+ explode(col("ids_i")).as("x"): _*)
      .select(inRepOrder(carry) ++ Seq(x, explode(col("ids_j")).as("y")): _*)
      .select(Seq(least(x, y).as("doc_i"), greatest(x, y).as("doc_j")) ++
        cols(x, y): _*)
      .unionAll(intra)
  }

  /** Rep-level UNFILTERED per-pair set statistics + both set-overlap
    * measures — the single pair aggregation every exact dedup measure
    * derives from: Jaccard (symmetric, d2/d6/d7) AND CONTAINMENT
    * n_common/min(n_i, n_j) (asymmetric, d16) read off the same
    * (n_common, n_i, n_j) row. One row per DISTINCT-content pair
    * sharing >= 1 shingle. Membership ids deliberately do NOT ride the
    * pair agg: an array-typed aggregate pays interpreted ordering
    * comparisons on every candidate-pair emission (measured 2-3x on the
    * whole pin build) — ids attach AFTER the threshold filter via
    * [[withMemberIds]], a broadcast-sized join against the multi-group
    * frame. Same scale shape as the doc-level original — rowwise sizes
    * ride the shingle rows, the blocked join shuffles longs — but block
    * width is the shingle's DISTINCT-CONTENT frequency, so verbatim-copy
    * cliques cost nothing here.
    */
  private def repPairStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val groups = sharedContentGroups(s, dir)
    val repSh = groups.select(
      $"ids".getItem(0).as("doc_id"),
      size($"arr").cast("long").as("n_sh"),
      explode($"arr").as("shingle"))
    pairAgg(repSh)
      .agg(count(lit(1)).as("n_common"),
        min($"a.n_sh").as("n_i"), min($"b.n_sh").as("n_j"))
      .select($"doc_i", $"doc_j", $"n_common", $"n_i", $"n_j",
        ($"n_common".cast("double") / ($"n_i" + $"n_j" - $"n_common"))
          .as("jaccard"),
        ($"n_common".cast("double") / least($"n_i", $"n_j"))
          .as("containment"))
  }

  /** Attach both reps' membership arrays to a (doc_i, doc_j, …) rep-pair
    * frame: two left joins against the multi-group frame (one row per
    * DUPLICATED content — broadcast-sized on any real corpus), singleton
    * reps default to a one-element array. Runs on the post-filter pair
    * frame, so the join touches surviving pairs only.
    */
  private def withMemberIds(stats: DataFrame, multi: DataFrame): DataFrame =
    stats
      .join(multi.select(col("ids").getItem(0).as("doc_i"),
        col("ids").as("mids_i")), Seq("doc_i"), "left")
      .join(multi.select(col("ids").getItem(0).as("doc_j"),
        col("ids").as("mids_j")), Seq("doc_j"), "left")
      .withColumn("ids_i", coalesce(col("mids_i"), array(col("doc_i"))))
      .withColumn("ids_j", coalesce(col("mids_j"), array(col("doc_j"))))
      .drop("mids_i", "mids_j")

  /** Membership expansion back to DOC-level stats rows — value-identical
    * to a doc-level pair-gen (differential spec + every d-family
    * oracle): cross-group pairs expand ids_i × ids_j (n_i/n_j swap with
    * the doc order; jaccard/containment are content functions, so they
    * carry over bit-identically), within-group pairs are set-identical
    * docs (jaccard = containment = 1, n_common = n_i = n_j = n_sh).
    */
  private def expandStats(rep: DataFrame, multi: DataFrame): DataFrame = {
    val intra = intraPairsOf(multi, "n_sh")
      .select(col("doc_i"), col("doc_j"), col("n_sh").as("n_common"),
        col("n_sh").as("n_i"), col("n_sh").as("n_j"),
        lit(1.0).as("jaccard"), lit(1.0).as("containment"))
    expandPairs(rep, intra,
      Seq("n_common", "n_i", "n_j", "jaccard", "containment")) { (x, y) =>
      Seq(col("n_common"),
        when(x < y, col("n_i")).otherwise(col("n_j")).as("n_i"),
        when(x < y, col("n_j")).otherwise(col("n_i")).as("n_j"),
        col("jaccard"), col("containment"))
    }
  }

  /** Shared Jaccard pair frame: d2's pair listing, d6's keep rule,
    * d7/d10's component edges, and any future curation step all consume
    * the SAME candidate-pair derivation, and the shingle pair-gen (one
    * blocked self-join over the whole corpus) is the single most
    * expensive subplan in the dedup family — so it runs ONCE per
    * (session, dir) at [[BasePairThreshold]] (the lowest threshold any
    * engine query uses) and every request at t ≥ base is a FILTER of the
    * pinned frame: pair sets are monotone decreasing in the threshold,
    * so the filtered frame is value-identical to a direct pair-gen at t
    * (spec-asserted differentially). The pinned frame is O(n_pairs at
    * base) — near-dup pairs, not docs — so pinning it is cheap at any
    * scale, unlike the corpus caches this engine deliberately avoids.
    */
  private[graft] val BasePairThreshold = 0.3

  /** Base threshold of the shared frame's CONTAINMENT side (d16): a pair
    * is retained in the pinned stats frame if EITHER measure clears its
    * base, so one pair-gen serves both the symmetric (Jaccard) and
    * asymmetric (containment) dedup families. Containment-only pairs —
    * a small doc inside a much larger one, Jaccard diluted below base —
    * are exactly what the OR keeps that a Jaccard-only frame would lose.
    */
  private[graft] val ContainBaseThreshold = 0.9

  /** The ONE pinned REP-level pair frame behind the whole exact-dedup
    * family: `repPairStats` filtered to (jaccard ≥ [[BasePairThreshold]]
    * OR containment ≥ [[ContainBaseThreshold]]),
    * persist(MEMORY_AND_DISK)-pinned — NOT localCheckpoint (round 14):
    * lineage survives, so a lost executor's blocks recompute instead of
    * failing every consumer (PinRecoverySpec), and `Dataset.unpersist`
    * actually releases the blocks on eviction. O(distinct-content
    * near-dup pairs) — on a copy-heavy corpus far below the doc-level
    * pair count the pre-collapse pin used to hold.
    */
  private[graft] def sharedRepStats(s: SparkSession, dir: String): DataFrame =
    Pins.frame("rep_pair_stats", s, Some(dir)) {
      repPairStats(s, dir)
        .filter(col("jaccard") >= BasePairThreshold ||
          col("containment") >= ContainBaseThreshold)
    }

  /** Pinned multi-member content groups (ids, n_sh) — the membership
    * side of every expansion and of the contracted CC paths. One row per
    * duplicated content; total cells bounded by n_docs (the same order
    * as the component pins this module already holds).
    */
  private def sharedMultiGroups(s: SparkSession, dir: String): DataFrame =
    Pins.frame("multi_groups", s, Some(dir)) {
      multiGroupsOf(sharedContentGroups(s, dir))
    }

  /** Doc-level filtered pair stats — the expansion view over the two
    * pinned frames; value-identical to pinning the expanded frame (the
    * pre-r16 layout) without materializing the copies² rows.
    */
  private def sharedPairStats(s: SparkSession, dir: String): DataFrame = {
    val multi = sharedMultiGroups(s, dir)
    expandStats(withMemberIds(sharedRepStats(s, dir), multi), multi)
  }

  private[graft] def sharedJaccardPairs(s: SparkSession, dir: String,
                                        threshold: Double): DataFrame = {
    require(threshold >= BasePairThreshold,
      s"shared pair frame is computed at base $BasePairThreshold; " +
        s"threshold $threshold would need a fresh pair-gen — lower " +
        "BasePairThreshold")
    val base = Pins.get("jaccard_pairs", s, Some(dir)) {
      sharedPairStats(s, dir)
        .filter(col("jaccard") >= BasePairThreshold)
        .select(col("doc_i"), col("doc_j"), col("jaccard"))
    }
    if (threshold == BasePairThreshold) base
    else base.filter(col("jaccard") >= threshold)
  }

  /** Containment-thresholded pairs off the same pinned stats frame —
    * d16's accessor. Same monotone-filter contract as
    * [[sharedJaccardPairs]], against the containment base.
    */
  private[graft] def sharedContainmentPairs(s: SparkSession, dir: String,
                                            threshold: Double): DataFrame = {
    require(threshold >= ContainBaseThreshold,
      s"shared stats frame keeps containment >= $ContainBaseThreshold; " +
        s"threshold $threshold would need a fresh pair-gen")
    sharedPairStats(s, dir)
      .filter(col("containment") >= threshold)
      .select(col("doc_i"), col("doc_j"), col("n_common"),
        col("n_i"), col("n_j"), col("containment"), col("jaccard"))
  }

  /** Transitive near-dup components (Jaccard≥0.5 pair graph), shared by
    * d7/d10: pair-gen + the connected-components fixpoint run ONCE per
    * (session, data dir) and the resulting O(n_docs) label frame is
    * persist(MEMORY_AND_DISK)-pinned for every downstream curation step — d10
    * composes d7's clusters, and without this it re-derived the full
    * shingle pair-gen + CC fixpoint (round-4 verdict's slowest bench
    * entry). Uses `runStar` (alternating large/small-star): O(log n)
    * rounds vs label propagation's O(diameter) — on web-corpus similarity
    * chains diameter can be thousands of shuffle rounds. The cache key
    * includes the session, so a new session recomputes (a dead session's
    * pinned blocks are simply unreachable); entries are bounded by the
    * number of (session, dir) pairs a process touches — and a long-lived
    * multi-tenant session can release them explicitly via `Pins.evict`.
    */
  private[graft] def dupComponents(s: SparkSession, dir: String): DataFrame =
    Pins.frame("dup_components", s, Some(dir)) {
      import s.implicits._
      // GROUP-CONTRACTED CC (round-15 verdict item 2): the fixpoint runs
      // over distinct-content representatives only — edges are REP pairs
      // at jaccard >= 0.5 — and members inherit their rep's label via
      // one membership join afterwards. Connectivity is identical to the
      // doc-level pair graph: within-group pairs (jaccard 1) connect
      // exactly the docs membership unifies, and a cross-group doc pair
      // exists iff its rep pair does. Min-id labels agree because every
      // rep IS its group's min doc_id. Clique edge volume never reaches
      // the fixpoint.
      val docs = Tables.documents(s, dir).select($"doc_id".as("id"))
      val repEdges = sharedRepStats(s, dir)
        .filter($"jaccard" >= 0.5)
        .select($"doc_i".as("src"), $"doc_j".as("dst"))
      contractedComponents(s, dir, docs, repEdges)
    }

  /** Group-contracted CC + membership inheritance, shared by
    * [[dupComponents]] and [[lshDupComponents]] (round-16 review: the
    * mechanism lived in two verbatim copies of the equivalence
    * argument's one implementation): runStar over the rep edge frame
    * (callers guarantee unique src < dst rep pairs), then every member
    * inherits its rep's label via one membership join; singleton-content
    * docs are their own rep. Returns the (id, component) frame the
    * callers pin.
    */
  private def contractedComponents(sess: SparkSession, d: String,
      docs: DataFrame, repEdges: DataFrame): DataFrame = {
    import sess.implicits._
    val repLabels = graft.operators.ConnectedComponents.runStar(
      docs, repEdges, edgesDistinct = true)
    val memb = sharedMultiGroups(sess, d)
      .select(explode($"ids").as("id"), $"ids".getItem(0).as("rep"))
    docs.join(memb, Seq("id"), "left")
      .select($"id", coalesce($"rep", $"id").as("rep"))
      .join(repLabels.select($"id".as("rep"), $"component"), Seq("rep"))
      .select($"id", $"component")
  }

  /** The quality-keeper election d10, d27 and d35 share: x3's quality
    * score joins onto the (id, component, …) members, and ONE hash agg
    * per component elects the highest-quality doc, min doc_id on ties
    * (max-of-struct argmax, no window sort). `sizeAgg` rides the same
    * agg. Out: (component, sizeAgg, keeper, keeper_quality).
    */
  private def electKeepers(s: SparkSession, dir: String, members: DataFrame,
      sizeAgg: Column): DataFrame = {
    val quality = TextAnalytics.withToks(Tables.documents(s, dir))
      .select(col("doc_id"),
        TextAnalytics.qualityCol(col("toks"), col("text")).as("quality"))
    val elected = members.join(quality, members("id") === quality("doc_id"))
      .groupBy(col("component"))
      .agg(sizeAgg, max(struct(col("quality"),
        (-col("doc_id")).as("negid"))).as("m"))
    elected.select(elected.columns.toSeq.filter(_ != "m").map(col) ++ Seq(
      (-col("m.negid")).as("keeper"), col("m.quality").as("keeper_quality")): _*)
  }

  /** d10/d27: the multi-doc clusters of a component assignment with
    * their elected keeper and size. Filtering to multi-doc clusters
    * BEFORE touching the corpus keeps the members side tiny (dup-cluster
    * docs only), so the quality join broadcasts it and the corpus is
    * scanned once, never shuffled.
    */
  private def clusterKeepers(s: SparkSession, dir: String,
      comp: DataFrame): DataFrame = {
    val multi = comp.groupBy(col("component"))
      .agg(count(lit(1)).as("n_docs")).filter(col("n_docs") > 1)
    electKeepers(s, dir, comp.join(multi, "component"),
      min(col("n_docs")).as("n_docs"))
  }

  /** d24's normalize→digest keep rule over an arbitrary docs frame:
    * keeps the minimum-doc_id member of every normalized-digest group
    * (case-fold + letter-runs + md5 — reformatted copies collapse).
    * Only (32-byte digest, doc_id) shuffles; the semi-join back carries
    * doc_id alone. The curation pipeline's exact-dedup stage.
    */
  private[graft] def normalizedKeepers(docs: DataFrame): DataFrame = {
    val keep = docs
      .select(col("doc_id"),
        md5(array_join(TextFunctions.tokenize(col("text")), " ")
          .cast("binary")).as("digest"))
      .groupBy(col("digest")).agg(min(col("doc_id")).as("doc_id"))
    docs.join(keep.select(col("doc_id")), Seq("doc_id"), "left_semi")
  }

  /** Forwards to [[graft.core.Pins.evict]], which releases every
    * module's pins for `session` (d's and the digest-keyed ones when
    * `dir = Some(d)`).
    */
  def evictCaches(session: SparkSession, dir: Option[String] = None): Unit =
    Pins.evict(session, dir)

  /** d34 core — incremental component maintenance over an arbitrary
    * (id) node frame, (src, dst) edge frame, and base-membership
    * predicate: CC over the base subgraph, contract delta-edge
    * endpoints through their base labels, CC over the contracted graph
    * (∝ touched components + new nodes, not the corpus), expand with
    * one linear join-back. Min-id labels survive contraction exactly
    * (a base component's rep IS its min member), so the result is
    * bit-identical to a full-graph rebuild — the d34 oracle proves
    * that per-row and the spec pins the component-merge case.
    */
  private[graft] def incrementalComponents(nodes: DataFrame,
      edges: DataFrame, isBase: Column => Column): DataFrame = {
    import nodes.sparkSession.implicits._
    val baseDocs = nodes.filter(isBase($"id"))
    val baseLabels = graft.operators.ConnectedComponents.runStar(
      baseDocs, edges.filter(isBase(col("src")) && isBase(col("dst"))),
      edgesDistinct = true)
    // delta edges touch >=1 new node; contract base endpoints to labels
    val contracted = edges
      .filter(!(isBase(col("src")) && isBase(col("dst"))))
      .join(baseLabels.select($"id".as("src"), $"component".as("csrc")),
        Seq("src"), "left")
      .join(baseLabels.select($"id".as("dst"), $"component".as("cdst")),
        Seq("dst"), "left")
      .select(coalesce($"csrc", $"src").as("src"),
        coalesce($"cdst", $"dst").as("dst"))
      .filter($"src" =!= $"dst")
    val contractedNodes = baseLabels.select($"component".as("id"))
      .union(nodes.filter(!isBase($"id")))
      .distinct()
    val merged = graft.operators.ConnectedComponents.runStar(
      contractedNodes, contracted)
    val finalOfRep = merged.select($"id".as("rep"),
      $"component".as("final_comp"))
    baseLabels.select($"id", $"component".as("rep"))
      .union(nodes.filter(!isBase($"id")).select($"id", $"id".as("rep")))
      .join(finalOfRep, Seq("rep"))
      .select($"id", $"final_comp".as("component"))
  }

  /** ONE rep-level UNVERIFIED band-collision candidate frame per
    * (session, dir) — the frame every LSH-candidate consumer derives
    * from (round-16 verdict item 2: after the rep-frame rewrite,
    * d3_lsh_pairs was left re-deriving the full band join because the
    * only pinned frames were verified ones; this pin restores the
    * one-build-many-consumers shape for the UNVERIFIED candidate set).
    * Consumers: d3 (doc-level expansion via [[lshCandDocPairs]]), d11
    * (verify scores on top), d14 (recall probe), d20 (pagerank edges),
    * and [[lshVerifiedRepPairs]] (Jaccard filter on top — the verified
    * pin now derives from this one instead of rebuilding the band
    * join). Shape: (doc_i, doc_j, ids_i, ids_j) — rep pair + both
    * content groups' memberships; row count is band collisions over
    * DISTINCT content, never copies².
    */
  private[graft] def lshRepCandPairs(s: SparkSession, dir: String): DataFrame =
    Pins.frame("lsh_rep_cands", s, Some(dir)) {
      import s.implicits._
      // signatures rowwise off the pinned arr (no explode, no doc_id
      // shuffle); the ids ride the band lists into the pair rows, so the
      // build's only exchanges are the band and pair-dedupe ones
      lshBandPairs(sharedContentGroups(s, dir)
          .select($"ids".getItem(0).as("doc_id"), $"ids",
            minhashSig($"arr").as("sig")))
    }

  /** Doc-level UNVERIFIED band-collision pairs — d3's reference output:
    * membership expansion of the pinned rep candidate frame plus the
    * within-content-group pairs (identical content ⇒ identical
    * signature ⇒ band agreement on every band). Value-identical to
    * `lshBandPairs` over every document's signature (differential spec +
    * d3's oracle); the expensive half (signatures + band exchange) runs
    * once per session via the pin, and each use pays only the expansion.
    */
  private[graft] def lshCandDocPairs(s: SparkSession, dir: String): DataFrame =
    expandPairs(lshRepCandPairs(s, dir),
      intraPairsOf(sharedMultiGroups(s, dir)))()

  /** REP-level verified band pairs, pinned: banding, the signature
    * computation, AND the exact-Jaccard verify all run once per
    * DISTINCT content (identical arr ⇒ identical sig ⇒ identical band
    * keys, so the collapse is lossless for candidacy, and
    * content-identical pairs verify at jaccard 1 trivially — they're
    * emitted by the membership side, never computed). Carries both
    * groups' ids for doc-level expansion. The full-graph CC (d26
    * family) and the incremental maintenance path (d34) consume the
    * SAME edges, so the pair-gen pins once and amortizes.
    */
  private[graft] def lshVerifiedRepPairs(s: SparkSession, dir: String): DataFrame =
    Pins.frame("lsh_verified_rep_pairs", s, Some(dir)) {
      import s.implicits._
      val reps = sharedContentGroups(s, dir)
        .select($"ids".getItem(0).as("doc_id"), $"arr")
      // candidates from the UNVERIFIED pin (ids already ride the rows);
      // this build adds only the arr joins + the exact-Jaccard filter
      lshRepCandPairs(s, dir)
        .join(reps.select($"doc_id".as("doc_i"), $"arr".as("arr_i")), "doc_i")
        .join(reps.select($"doc_id".as("doc_j"), $"arr".as("arr_j")), "doc_j")
        .withColumn("inter",
          size(array_intersect($"arr_i", $"arr_j")).cast("double"))
        .filter($"inter" /
          (size($"arr_i") + size($"arr_j") - $"inter") >= 0.5)
        .select($"doc_i".as("src"), $"doc_j".as("dst"), $"ids_i", $"ids_j")
    }

  /** Doc-level verified band pairs — the d34 edge contract (its
    * base/increment split is a per-doc predicate, so contraction does
    * not commute with it): membership expansion of the pinned rep
    * frame, value-identical to the pre-collapse doc-level verify.
    */
  private[graft] def lshVerifiedPairs(s: SparkSession, dir: String): DataFrame =
    expandPairs(lshVerifiedRepPairs(s, dir),
      intraPairsOf(sharedMultiGroups(s, dir)))()
      .toDF("src", "dst")

  /** The LSH-candidate-restricted component assignment (d26/d27 share
    * it — the dupComponents pattern for the banded pair graph): LSH
    * band candidates, exact-Jaccard verified on the candidate rows
    * only, then star-rewiring CC. One CC run per (session, dir).
    */
  private[graft] def lshDupComponents(s: SparkSession, dir: String): DataFrame =
    Pins.frame("lsh_dup_components", s, Some(dir)) {
      import s.implicits._
      // group-contracted CC over the verified rep graph + membership
      // inheritance — see dupComponents for the equivalence argument
      val docs = Tables.documents(s, dir).select($"doc_id".as("id"))
      contractedComponents(s, dir, docs,
        lshVerifiedRepPairs(s, dir).select($"src", $"dst"))
    }

  override def queries: Map[String, Q] = Map(
    // D1: exact dedup via content hash; canonical row = min doc_id per
    // group (pure hash-groupBy — one shuffle keyed on the digest).
    "d1_exact_dedup" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir)
        .groupBy(md5($"text".cast("binary")).as("digest"))
        .agg(min($"doc_id").as("keeper"), count(lit(1)).as("n_copies"))
    },

    // D2: n-gram Jaccard near-dup pairs. Candidates from a self-join on
    // shared shingles (blocking join, not a cross join); Jaccard from
    // distinct-shingle counts carried through the pair agg; threshold 0.3
    // = the session-wide base, so d2 both serves and seeds the shared
    // pair frame the rest of the dedup family filters.
    "d2_jaccard_pairs" -> { (s, dir) =>
      sharedJaccardPairs(s, dir, BasePairThreshold)
    },

    // D3a: MinHash signatures — NumPerm universal-hash permutations over
    // the shingle set, min per permutation; banded into 4 LSH band keys.
    // Rowwise (MinHashSigExpr over the fused shingle array): no shuffle.
    // Docs with no shingle (< 3 tokens) have no signature and no row.
    "d3_minhash_sig" -> { (s, dir) =>
      import s.implicits._
      shingleArr(s, dir).filter(size($"arr") > 0)
        .select($"doc_id", minhashSig($"arr").as("sig"))
        .select($"doc_id" +:
          array_join(transform($"sig", x => x.cast("string")), ",").as("sig") +:
          (0 until NumPerm / BandSize).map(b =>
            array_join(transform(slice($"sig", b * BandSize + 1, BandSize),
              x => x.cast("string")), ",").as(s"band$b")): _*)
    },

    // D3b: LSH candidate pairs — docs agreeing on at least one full band.
    // The exchange is keyed on (band index, band value): shuffle ∝
    // distinct content, never O(n²) — and the band pairs are the session
    // pin, so repeated family consumers pay only membership expansion
    // (round-16 verdict item 2: this query was re-deriving the build
    // after the rep rewrite; r15's 0.3 s warm time is restored by
    // sharing the same pin d11/d14/d20 read).
    "d3_lsh_pairs" -> { (s, dir) =>
      lshCandDocPairs(s, dir)
    },

    // D20: PageRank centrality over the near-dup graph — 2 unrolled
    // iterations, damping 0.85, uniform init over ALL documents. The
    // graph-analytics class the engine lacked (d7's components label
    // connectivity; PageRank ranks WITHIN it): high-PR docs are the
    // template hubs a curation run inspects first, the "which
    // boilerplate family dominates" signal. The edges (the doc-level
    // expansion of the session's LSH candidate pin; the minhash/band work
    // runs once, in the pin build) are grouped ONCE into an adjacency
    // frame (src, dsts), and both iterations read it: each is one
    // adj⋈pr join on src, an explode of dsts with p/|dsts| per
    // contribution, and one dst-keyed aggregate — the standard
    // distributed-PR shape (no driver-side graph). Dangling docs (no
    // near-dup partner) hold the (1-d)/N floor — mass from dangling nodes is
    // NOT redistributed (documented simplified variant; both engines
    // apply the same rule). Parity: per-contribution round-9 +
    // decimal accumulation, intermediate round-9, final round-6.
    "d20_dup_pagerank" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir).select($"doc_id")
      val pairs = lshCandDocPairs(s, dir)
      val edges = pairs.select($"doc_i".as("src"), $"doc_j".as("dst"))
        .union(pairs.select($"doc_j".as("src"), $"doc_i".as("dst")))
      // one adjacency list per src, shared by both steps; |dsts| is the
      // out-degree (edges are a bag, and collect_list keeps duplicates)
      val adj = edges.groupBy($"src").agg(collect_list($"dst").as("dsts"))
      val nF = docs.agg(count(lit(1)).as("n"))
      def step(pr: DataFrame, scale: Int): DataFrame =
        docs.join(
            adj.join(pr.toDF("src", "p"), "src")
              .select(explode($"dsts").as("doc_id"),
                round($"p" / size($"dsts"), 9).cast("decimal(28,12)").as("t"))
              .groupBy($"doc_id").agg(sum($"t").cast("double").as("m")),
            Seq("doc_id"), "left")
          .crossJoin(broadcast(nF)) // 1-row doc count
          .select($"doc_id",
            round(lit(0.15) / $"n" + lit(0.85) * coalesce($"m", lit(0.0)),
              scale).as("pr"))
      val pr0 = docs.crossJoin(broadcast(nF))
        .select($"doc_id", (lit(1.0) / $"n").as("pr"))
      step(step(pr0, 9), 6)
    },

    // D21: LEAKAGE-FREE train/val/test split — the assignment unit is
    // the TRANSITIVE near-dup cluster (d7's components), not the
    // document: a doc-level hash split leaks when one copy of a
    // near-dup pair lands in train and the other in eval (the held-out
    // "unseen" doc was effectively memorized). Hashing the component
    // label instead guarantees every near-dup chain moves as a unit —
    // the CC property makes the guarantee transitive, which pair-level
    // fixes are not. Portable knuth hash of the label mod 100 →
    // 80/10/10; rowwise over the shared pinned component frame (the CC
    // fixpoint is the only non-trivial cost and it's amortized across
    // d7/d10/d21), 3-row output. At 100 TB the split is a map-only pass
    // over the label frame — no new shuffle beyond what d7 already paid.
    "d21_leakage_split" -> { (s, dir) =>
      import s.implicits._
      dupComponents(s, dir)
        .select($"id", $"component",
          (HashFunctions.knuthHash($"component") % 100).as("bucket"))
        .select($"id", $"component",
          when($"bucket" < 80, "train")
            .when($"bucket" < 90, "val")
            .otherwise("test").as("split"))
        .groupBy($"split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct($"component").as("n_components"))
    },

    // D22: CORPUS SNAPSHOT DIFF — the versioning primitive of an
    // iterating dataset: which docs were added / removed / changed
    // between two corpus snapshots, as one content-hash full-outer
    // join. Snapshot B is DERIVED deterministically from the base
    // corpus (the p17/x24 injection pattern: %11 docs dropped, %13
    // texts revised, %17 docs re-added under shifted ids), so both
    // engines diff the identical pair of snapshots. The re-add shift is
    // max(doc_id)+1 — derived, not a constant: a fixed offset would
    // collide with real ids once the corpus outgrows it, silently
    // turning the full-outer join many-to-many (advisor r8); the 1-row
    // max broadcasts. Only (doc_id, md5)
    // pairs ever shuffle — the text reduces map-side to its 32-char
    // digest, so at 100 TB the join carries ~48 bytes/doc regardless
    // of doc size, hash-partitioned on doc_id. Audit output per
    // status: row count + order-insensitive Σ knuthHash(doc_id).
    "d22_snapshot_diff" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val shift = docs.agg((max($"doc_id") + 1L).as("shift"))
      val a = docs.select($"doc_id", md5($"text".cast("binary")).as("ha"))
      val bDocs = docs.filter($"doc_id" % 11 =!= 0)
        .select($"doc_id",
          when($"doc_id" % 13 === 0, concat($"text", lit(" rev2")))
            .otherwise($"text").as("text"))
        .union(docs.filter($"doc_id" % 17 === 0)
          .crossJoin(broadcast(shift)) // 1-row derived offset
          .select(($"doc_id" + $"shift").as("doc_id"),
            concat(lit("new "), $"text").as("text")))
      val b = bDocs.select($"doc_id", md5($"text".cast("binary")).as("hb"))
      a.join(b, Seq("doc_id"), "full_outer")
        .select($"doc_id",
          when($"hb".isNull, "removed")
            .when($"ha".isNull, "added")
            .when($"ha" =!= $"hb", "changed")
            .otherwise("unchanged").as("status"))
        .groupBy($"status")
        .agg(count(lit(1)).as("n_docs"),
          sum(HashFunctions.knuthHash($"doc_id")).as("id_checksum"))
    },

    // D24: NORMALIZED EXACT DEDUP — the C4-style first dedup stage:
    // case-fold + strip non-letters + collapse whitespace, THEN hash,
    // so trivially-reformatted copies (uppercase mirrors, punctuation
    // variants) collapse to one digest where raw-md5 d1 sees distinct
    // texts. The corpus has no such variants, so the query PLANTS them
    // (the d22/x24 injection pattern): docs with doc_id%9==0 gain an
    // UPPERCASED '!!'-suffixed twin under a max(doc_id)+1-shifted id
    // (derived like d22's — a constant offset would collide with real
    // ids on a large corpus and break the planted-pair invariant) —
    // both engines derive the identical augmented corpus, and
    // normalization must collapse exactly those pairs. The PropertySpec
    // every-group-is-a-planted-pair invariant rests on this
    // collision-freedom. Normalization rides the existing
    // tokenize (lower + letter-runs, codegen'd); only (digest 32B,
    // doc_id) ever shuffles — ONE hash agg with map-side combine, the
    // d1 shape with a rowwise normalize bolted in front.
    "d24_normalized_dedup" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val shift = docs.agg((max($"doc_id") + 1L).as("shift"))
      val aug = docs.select($"doc_id", $"text")
        .union(docs.filter($"doc_id" % 9 === 0)
          .crossJoin(broadcast(shift)) // 1-row derived offset
          .select(($"doc_id" + $"shift").as("doc_id"),
            concat(upper($"text"), lit(" !!")).as("text")))
      aug
        .select($"doc_id",
          md5(array_join(TextFunctions.tokenize($"text"), " ")
            .cast("binary")).as("digest"))
        .groupBy($"digest")
        .agg(min($"doc_id").as("keeper"),
          count(lit(1)).as("n_docs"),
          sum(HashFunctions.knuthHash($"doc_id")).as("id_checksum"))
        .filter($"n_docs" >= 2)
    },

    // D25: EXACT-SUBSTRING DUPLICATE SPANS — the ExactSubstr family
    // (Lee et al., "Deduplicating Training Data Makes Language Models
    // Better", ACL'22): a position whose W=8-token window recurs
    // ANYWHERE in the corpus (other docs or the same one) is a
    // duplicated position; positions within W of each other merge into
    // maximal spans, so `dup_tokens` is the EXACT token coverage of
    // duplicated substrings (no double counting) — the statistic
    // substring excision needs. Unlike the set-based families (d2
    // Jaccard / d3 LSH / d4 SimHash), this is ORDER-SENSITIVE:
    // reordered boilerplate does not match, verbatim runs do.
    // Scale shape: the gram frame is the token stream (one row per
    // position, ∝ corpus tokens — d12's documented slope); df attaches
    // by agg + equi-join (round 14, r13 verdict item 4): the former
    // fp-partitioned window count serialized a boilerplate mega-fp's
    // ENTIRE instance set through one window partition — the straggler
    // no runtime feature can split — while the map-side-combined df
    // aggregate bounds any hot fp to one partial row per map partition
    // and the join back is AQE-skew-splittable. The trade is the gram
    // generation running in both join branches (two linear corpus
    // passes, accepted because a hot fp no longer pins one task); the
    // duplicated-fp filter rides the STATS side, so the
    // join's build input shrinks to actually-duplicated fingerprints.
    // The span-merge windows partition on doc_id (bounded per doc).
    "d25_substring_spans" -> { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val W = 8
      // round 14: tokenize + u32 hash + ALL window folds fused into the
      // codegen'd poly_fp_windows expression (one compiled call per doc)
      // — the composed transform/slice/aggregate chain evaluated W
      // interpreted multiply-mod trees per corpus POSITION, in both
      // branches of the df agg+join. Values bit-identical (FunctionsSpec
      // proves the differential); n_toks = |fps| + W - 1 by construction.
      val grams = Tables.documents(s, dir)
        // generate barrier (x10 pattern): fingerprints computed once per
        // row, not once per downstream position reference
        .select($"doc_id",
          explode(array(
            graft.functions.PolyFpWindowsExpr.polyFpWindows($"text", W)))
            .as("fps"))
        .filter(size($"fps") > 0)
        .select($"doc_id",
          (size($"fps") + W - 1).cast("long").as("n_toks"),
          posexplode($"fps").as(Seq("pos0", "fp")))
        .select($"doc_id", $"n_toks", $"pos0".cast("long").as("pos"), $"fp")
      val dfh = grams.groupBy($"fp").agg(count(lit(1)).as("df"))
        .filter($"df" >= 2)
        .select($"fp")
      val dup = grams
        .join(dfh, "fp") // inner join IS the df >= 2 filter
        .select($"doc_id", $"n_toks", $"pos")
      val w = Window.partitionBy($"doc_id").orderBy($"pos")
      val sp = dup
        // gap ≤ W ⇒ the two grams' token ranges touch or overlap ⇒ one
        // span; NULL lag (first position in doc) opens a span
        .withColumn("new_span",
          when($"pos" - lag($"pos", 1).over(w) <= W, 0L).otherwise(1L))
        .withColumn("span_id",
          sum($"new_span").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      sp.groupBy($"doc_id", $"n_toks", $"span_id")
        .agg(count(lit(1)).as("n_grams"),
          min($"pos").as("s"), max($"pos").as("e"))
        .groupBy($"doc_id", $"n_toks")
        .agg(sum($"n_grams").as("n_dup_grams"),
          count(lit(1)).as("n_spans"),
          sum($"e" - $"s" + W).as("dup_tokens"))
        .select($"doc_id", $"n_dup_grams", $"n_spans", $"dup_tokens",
          round($"dup_tokens".cast("double") / $"n_toks", 6).as("dup_frac"))
    },

    // D28: EXACT-SUBSTRING EXCISION — the cleaned-corpus OUTPUT that
    // d25's span REPORT exists for (Lee et al. ACL'22 ExactSubstr
    // policy: a W-token window seen anywhere else is removed, ONE copy
    // survives). Keep-first is global and deterministic: per
    // fingerprint, the occurrence with the smallest (doc_id, pos)
    // survives — computed as a map-side-combined min-of-struct
    // aggregate joined back on fp (round 14: the fp-partitioned window
    // this replaces serialized a boilerplate mega-fp's instance set
    // through one task; the agg bounds it to one partial row per map
    // partition and the join back is AQE-skew-splittable).
    // Every other occurrence's W token positions are excised; a doc's
    // kept tokens re-concatenate in order and the per-doc javaHash
    // checksum proves BYTE-level parity of the cleaned text against
    // the oracle (the x24 convention), not just counts. Internal
    // repeats excise too (first occurrence kept). ALL docs emit a row —
    // docs under W tokens pass through unchanged; a fully-duplicated
    // doc comes out empty (checksum 0). Shape: gram frame ∝ corpus
    // tokens (now generated in both keeper-join branches — the d25
    // two-linear-pass trade), coverage ∝ excised volume × W, one
    // doc-keyed left join to rebuild text.
    "d28_substring_excision" -> { (s, dir) =>
      substringExcision(Tables.documents(s, dir), 8)
    },

    // D23: CROSS-SOURCE CONTAMINATION MATRIX — pairwise 8-gram overlap
    // between ingest sources (the d9 decontamination machinery turned
    // source×source): which feeds are re-crawling each other's content.
    // ONE corpus shuffle AND one run of its aggregate (round 13, r11
    // verdict item 7): group by shingle → per-shingle source SET
    // (bounded by source cardinality, not corpus), then the i<j pairs
    // AND one (src, NULL) size marker per member fan out MAP-SIDE from
    // the sorted set in the SAME explode — at most S(S-1)/2 + S rows
    // per shingle — into one (src_i, src_j) aggregate whose output is
    // sources²-bounded. The r12 shape derived universe sizes from a
    // second consumption of the grouped frame: exchange reuse deduped
    // the corpus shuffle but the per-shingle collect_set aggregate
    // re-ran per consumer (the stable ~1.45 s "second pair pass" the
    // verdict profiled) — and the fused form alone doesn't fix that,
    // because Catalyst pushes each consumer's src_j null/not-null
    // filter BELOW the pair exchange, splitting the subtrees and
    // defeating reuse. So the ≤S²+S-row combined frame is COLLECTED
    // (round 13 — bounded at ANY corpus scale: sources are a
    // dimension, not data) and the Jaccard arithmetic finishes on the
    // driver: the corpus chain runs exactly once BY CONSTRUCTION, not
    // by optimizer grace. Jaccard over per-source distinct-shingle
    // universes. Nothing cacheable survives the collect, so every
    // evaluation re-pays the chain — that chain IS the query; SCALE.md
    // round 14 carries the five-stage floor breakdown.
    //
    // A bitmask variant (source → string-ordered bit index via a
    // broadcast S-row dim, per-shingle bit_or, pair fan-out over the
    // DISTINCT-mask histogram) was A/B-benched in round 13 and measured
    // no faster at sf0.1 — the remaining time is the one corpus chain —
    // so the simpler collect_set form stays (round 14 pre-dedups the
    // set aggregate's input on (shingle, source) in a codegen hash agg,
    // the measured win).
    "d23_source_overlap" -> ((s, dir) =>
      sourceOverlapBySet(Tables.documents(s, dir))),

    // D6: dedup MATERIALIZATION — the corpus with near-dups removed:
    // drop any doc having a Jaccard>=0.5 partner with a smaller doc_id
    // (deterministic one-pass keep rule; transitive closure would need
    // iterative connected components — documented simplification, same
    // rule the oracle applies). Anti-join on the pair set.
    "d6_dedup_corpus" -> { (s, dir) =>
      import s.implicits._
      // Losers is O(n_docs) at worst — no broadcast hint; AQE picks the
      // join strategy from the actual size at runtime. The pair set is
      // the SAME frame d7/d10's components consume (sharedJaccardPairs),
      // so in a curation session that runs both, pair-gen happens once.
      val losers = sharedJaccardPairs(s, dir, 0.5)
        .select($"doc_j".as("doc_id")).distinct()
      Tables.documents(s, dir)
        .join(losers, Seq("doc_id"), "left_anti")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_kept"))
    },

    // D7: TRANSITIVE near-dup clusters — connected components over the
    // Jaccard>=0.5 pair graph (a one-pass keep rule misses chains
    // a~b~c where a!~c; D6 documents that simplification, this closes
    // it). Star-rewiring CC (O(log n) rounds) via the shared
    // `dupComponents` frame; oracle = recursive CTE.
    "d7_dup_components" -> { (s, dir) =>
      import s.implicits._
      dupComponents(s, dir).groupBy($"component")
        .agg(count(lit(1)).as("n_docs"))
        .filter($"n_docs" > 1) // non-trivial clusters
    },

    // D4a: 32-bit SimHash per document (token-frequency-weighted bit
    // votes over Java-hashed tokens). Pure rowwise — no shuffle at all.
    "d4_simhash" -> { (s, dir) =>
      import s.implicits._
      Tables.documents(s, dir).select($"doc_id", simhash($"text").as("simhash"))
    },

    // D4b: SimHash near-dup DOC pairs — the reference's output contract,
    // expanded from the group-form frame behind a fail-fast output-volume
    // guard (round-16 verdict item 1; see [[simhashGroupPairs]] for the
    // 100 TB contract and the guard rationale).
    "d4_simhash_pairs" -> { (s, dir) =>
      import s.implicits._
      // The group-pair frame is the SESSION PIN (round 18 — was a fresh
      // localCheckpoint per invocation): the estimate agg and the
      // expansion both read it, so the guard never doubles the band-join
      // cost, repeated invocations (benchmark passes, d4_group_stats) reuse
      // the same blocks, and persist keeps lineage so a lost executor
      // recomputes instead of failing (pin doctrine, PinRecoverySpec).
      // Its row count is distinct-hash pairs (collision-bounded), NOT
      // doc pairs — at the 20x copy-heavy fixture ~400x smaller than
      // the expansion. The guard agg below is still an eager job at
      // DataFrame-construction time BY DESIGN: the require must fire
      // before any consumer can launch the quadratic expansion.
      val gp = sharedSimhashGroupPairs(s, dir)
      // OUTPUT-VOLUME GUARD (round-16 verdict item 1, mirroring d5's
      // corpus-size guard): the band join itself is pre-collapsed and
      // collision-bounded, but this final doc-pair expansion is
      // O(clique²) in verbatim-copy mass — 209M pairs at 10x, ~800M at
      // 20x, and at 100 TB a single hot verbatim-copy clique would emit
      // more rows than the rest of the job combined. Past the cap, fail
      // FAST with a pointer to the group-form contract instead of
      // launching the expansion. The estimate is exact (sum of per-group
      // pair counts — one cheap agg over the group-pair rows) and the
      // cap is generous: 2B doc-pair rows is an output-volume mistake,
      // not a plan; a deliberate run can raise it.
      val est = gp.agg(sum($"n_pairs")).as[Option[Long]].head().getOrElse(0L)
      val maxPairs = s.conf.getOption("graft.d4.maxPairs")
        .map(_.toLong).getOrElse(2000000000L)
      graft.core.GuardRefusal.check(est <= maxPairs,
        s"d4_simhash_pairs would expand $est doc pairs (cap $maxPairs, " +
          "graft.d4.maxPairs): the doc-pair output is quadratic in " +
          "verbatim-copy clique size BY CONTRACT. At scale consume the " +
          "group form instead — d4_group_stats / " +
          "Dedup.simhashGroupPairs (ids_i, ids_j, hamming; one row per " +
          "colliding distinct-simhash pair) — or raise the cap " +
          "deliberately.")
      // identical-hash rows (simhash_i = simhash_j) give their ids'
      // within-group pairs; the rest cross-expand both membership lists
      val intra = intraPairsOf(gp.filter($"simhash_i" === $"simhash_j")
          .select($"ids_i".as("ids")))
        .select($"doc_i", $"doc_j", lit(0L).as("hamming"))
      expandPairs(gp.filter($"simhash_i" =!= $"simhash_j"), intra,
        Seq("hamming"))()
    },

    // D4c: the GROUP-FORM SimHash output as a driver-checkable frame —
    // the documented 100 TB contract d4_simhash_pairs expands from,
    // projected to its SQL-comparable scalars (membership arrays carry
    // the same information as (n_i, n_j) + the d4_simhash frame). One
    // row per colliding distinct-simhash pair; volume is
    // collision-bounded, never clique-quadratic.
    "d4_group_stats" -> { (s, dir) =>
      import s.implicits._
      sharedSimhashGroupPairs(s, dir).select(
        $"simhash_i", $"simhash_j",
        size($"ids_i").cast("bigint").as("n_i"),
        size($"ids_j").cast("bigint").as("n_j"),
        $"n_pairs", $"hamming")
    },

    // D10: QUALITY-KEEPER dedup materialization — the final curation
    // step d6/d7 stop short of: within every transitive near-dup cluster
    // keep the HIGHEST-QUALITY copy (x3's score; min doc_id on ties),
    // not merely the smallest id. Composition of the engine's own parts:
    // d7's connected components × x3's quality column × the max-of-struct
    // argmax (ONE hash agg per cluster, no window sort). Emits the
    // multi-doc clusters with their elected keeper.
    "d10_best_keeper" -> { (s, dir) =>
      clusterKeepers(s, dir, dupComponents(s, dir))
    },

    // D11: the full production MinHash flow d2/d3 stop short of
    // composing — LSH band CANDIDATES (d3's generator), each verified
    // with (a) the signature-agreement Jaccard ESTIMATE (the cheap
    // screen) and (b) the EXACT Jaccard over the two shingle sets.
    // Scale shape: everything is candidate-restricted — sigs/arrays join
    // ONTO the pair frame keyed by doc id (pair count ≪ corpus²), and
    // the exact intersection is a ROWWISE array_intersect on the pair
    // row (each doc's ~50-shingle array), not a re-shuffle of the
    // exploded corpus. This is how web-scale dedup actually verifies:
    // never recompute d2's corpus-wide blocked join for a candidate set.
    // r16: both scores are pure content functions, so they compute ONCE
    // per distinct-content candidate pair (the pre-collapse pattern) and
    // expand to doc pairs afterwards; content-identical pairs are est =
    // exact = 1.0 by definition (all NumPerm mins agree; intersection =
    // union), never evaluated.
    "d11_lsh_verify" -> { (s, dir) =>
      import s.implicits._
      val reps = sharedContentGroups(s, dir)
        .select($"ids".getItem(0).as("doc_id"), $"arr")
      // candidates come from the session pin (ids_i/ids_j already ride
      // the pinned rows); only the two arr joins run per use, and the
      // signatures are recomputed rowwise for the candidate rows alone
      val cands = lshRepCandPairs(s, dir)
      val scored = cands
        .join(reps.select($"doc_id".as("doc_i"), $"arr".as("arr_i")), "doc_i")
        .join(reps.select($"doc_id".as("doc_j"), $"arr".as("arr_j")), "doc_j")
        .select($"ids_i", $"ids_j",
          (aggregate(zip_with(minhashSig($"arr_i"), minhashSig($"arr_j"),
              (x, y) => when(x === y, 1).otherwise(0)),
            lit(0), (a, x) => a + x).cast("double") / NumPerm)
            .as("jaccard_est"),
          (size(array_intersect($"arr_i", $"arr_j")).cast("double") /
            (size($"arr_i") + size($"arr_j")
              - size(array_intersect($"arr_i", $"arr_j"))))
            .as("jaccard"))
      // both measures are symmetric — expansion needs no column swap
      val intra = intraPairsOf(sharedMultiGroups(s, dir))
        .select($"doc_i", $"doc_j",
          lit(1.0).as("jaccard_est"), lit(1.0).as("jaccard"))
      expandPairs(scored, intra, Seq("jaccard_est", "jaccard"))()
    },

    // D26: the LSH-SCALED dedup cluster pipeline end-to-end — the
    // production MinHash dedup flow (SlimPajama / RefinedWeb class):
    // banded candidates (d3's generator) → exact-Jaccard verify on the
    // candidate rows ONLY (d11's rowwise array_intersect — never d2's
    // corpus-wide blocked join) → star-rewiring connected components →
    // non-trivial cluster sizes. Same output shape as d7, but the pair
    // graph is the LSH-candidate-restricted one, so the pair-generation
    // cost is ∝ band collisions instead of ∝ all shingle collisions —
    // this is the component path you'd actually run at 100 TB, with d7
    // the exact-recall reference and d14 measuring exactly what the
    // banding misses. The oracle replays the SAME banded candidate set
    // (recursive CTE over the verified pairs), so parity holds even
    // where LSH recall < 1.
    "d26_lsh_dedup_components" -> { (s, dir) =>
      import s.implicits._
      lshDupComponents(s, dir)
        .groupBy($"component")
        .agg(count(lit(1)).as("n_docs"))
        .filter($"n_docs" > 1)
    },

    // D27: the LSH-scaled KEEPER materialization — d10's quality-keeper
    // election run over d26's banded component graph instead of d7's
    // exact one: within every LSH-discovered cluster keep the highest-
    // quality copy (x3's score, min doc_id on ties). d26+d27 share ONE
    // CC run per session (the dupComponents pinning pattern), so the
    // full production dedup output — cluster sizes AND the elected
    // survivors — costs one banded pair-gen + one fixpoint. Same
    // max-of-struct argmax as d10: one hash agg per cluster, no window
    // sort, corpus joined once against the tiny multi-doc member set.
    "d27_lsh_keeper" -> { (s, dir) =>
      clusterKeepers(s, dir, lshDupComponents(s, dir))
    },

    // D35: DEDUP AUDIT — the per-doc explainability frame a curation
    // run ships alongside its drops ("why is doc X gone?"): every doc
    // with its LSH component, cluster size, the cluster's
    // quality-elected keeper (d27's election, extended to singletons —
    // a unique doc keeps itself), and the kept verdict. One frame
    // answers takedown/audit queries without re-running the dedup.
    // Rides the session's pinned component assignment + ONE quality
    // scan; size and keeper come from ONE component-keyed agg (bounded
    // by the cluster cap), the audit join-back is linear. Flags integer,
    // election ties (quality desc, doc_id asc) — deterministic both
    // engines.
    "d35_dedup_audit" -> { (s, dir) =>
      import s.implicits._
      val comp = lshDupComponents(s, dir)
      val keepers = electKeepers(s, dir, comp, count(lit(1)).as("n_copies"))
      comp.select($"id".as("doc_id"), $"component")
        .join(keepers, Seq("component"))
        .select($"doc_id", $"component", $"n_copies", $"keeper",
          when($"doc_id" === $"keeper", 1L).otherwise(0L).as("kept"))
    },

    // X34: SKEW REPORT — the pre-flight diagnostic an operator runs
    // BEFORE launching a 100 TB job: for each shuffle-key family the
    // engine's heavy plans cluster on (hashed 8-gram shingles — d12's
    // window key and d9/d23's join and group key; bigram left-contexts
    // — the x16/x29 w1 keys), the top-3 hottest keys and each one's
    // share of all instances. A key holding ≥ a few percent means a
    // plan clustered on that key will straggle — d12's shingle-keyed
    // window count is the one that cannot be split at runtime. Plan: one
    // corpus pass + one vocab-sized hash agg per family, top-3 via
    // distributed TakeOrderedAndProject, totals fold from the SAME
    // grouped frame (no second corpus pass); output 6 rows. Shares are
    // one IEEE division of exact integers, round-6; ties (n desc, key
    // asc) — deterministic both engines.
    "x34_skew_report" -> { (s, dir) =>
      import s.implicits._
      def family(name: String, keyed: DataFrame): DataFrame = {
        val counts = keyed.groupBy($"k").agg(count(lit(1)).as("n"))
        val total = counts.agg(sum($"n").as("tot"))
        counts.orderBy($"n".desc, $"k").limit(3)
          .crossJoin(broadcast(total))
          .select(lit(name).as("family"), $"k", $"n",
            round($"n".cast("double") / $"tot".cast("double"), 6)
              .as("share"))
      }
      val docs = Tables.documents(s, dir)
      val shingles = docs
        .select(explode(HashedShinglesExpr.hashedShingles($"text", 8))
          .as("sh"))
        .select($"sh".cast("string").as("k"))
      val toks = docs
        .select(TextFunctions.wsTokens($"text").as("ts"))
        .filter(size($"ts") >= 2)
      val contexts = toks.select(
        explode(slice($"ts", lit(1), size($"ts") - 1)).as("k"))
      family("shingle8", shingles)
        .unionAll(family("bigram_w1", contexts))
    },

    // D12: per-doc n-gram NOVELTY score — the fraction of a document's
    // distinct hashed 8-gram shingles that occur in at least one OTHER
    // document. This is the doc-level duplication-contamination signal
    // curation pipelines threshold on (RefinedWeb/Gopher-style "fraction
    // of duplicated n-grams"), complementing d2/d7 (which find WHICH
    // docs pair up) with HOW MUCH of each doc is boilerplate. Shape:
    // one shingle-gen pass, one repartition(shingle), df as a window
    // count over that exchange, then the per-doc agg — shuffle ∝
    // corpus shingles, never pairs (see ngramNovelty's skew note).
    "d12_ngram_novelty" -> { (s, dir) =>
      ngramNovelty(Tables.documents(s, dir), 8)
    },

    // D13: chunk-level (substring) dedup — the ExactSubstr-style method:
    // a doc is penalized for every FULL 64-token chunk (x10's windows)
    // whose fingerprint also appears in another document, catching long
    // verbatim overlaps that doc-level Jaccard (d2) dilutes away and
    // 8-gram novelty (d12) over-triggers on. Intra-doc repetition is
    // NOT flagged (that is x8's repetition signal): a fp counts only
    // when ≥ 2 distinct docs carry it.
    //
    // Round-14 shape (r13 verdict item 4 — the last fp-partitioned
    // windows): the per-doc answer only needs CHUNK COUNTS, so the
    // whole query folds from ONE (fp, doc_id) aggregate of the chunk
    // stream — the LM-family shape. The map-side-combined (fp, doc)
    // agg bounds a boilerplate mega-fp by doc spread; the fp-keyed nd
    // fold is two-phase over the DISTINCT (fp, doc) frame; the join
    // back is an AQE-skew-splittable equi-join of two distinct-pair
    // frames. The old stacked fp-windows serialized a hot fp's entire
    // instance set through one window partition no runtime feature can
    // split. ONE chunk-frame pass, like before — strictly better.
    "d13_chunk_dedup" -> { (s, dir) =>
      import s.implicits._
      val dfp = TextAnalytics.chunkFrame(s, dir)
        .filter($"chunk_len" === 64)
        .groupBy($"fp", $"doc_id").agg(count(lit(1)).as("k"))
      val nd = dfp.groupBy($"fp").agg(count(lit(1)).as("nd"))
      dfp.join(nd, "fp")
        .groupBy($"doc_id")
        .agg(sum($"k").as("n_chunks"),
          sum(when($"nd" >= 2, $"k").otherwise(0L)).as("n_dup_chunks"))
        .select($"doc_id", $"n_chunks", $"n_dup_chunks",
          ($"n_dup_chunks".cast("double") / $"n_chunks").as("dup_frac"))
    },

    // D14: LSH TUNING probe — what fraction of the TRUE near-dup pairs
    // (exact Jaccard ≥ 0.5, the d6/d7 keep-rule threshold) do the
    // MinHash bands actually surface as candidates? This is the number
    // that decides NumPerm/BandSize before a production dedup run:
    // recall too low → dups survive; band volume too high → candidate
    // explosion. Both inputs are pair-sized frames the session already
    // derives (the pinned shared pair frame + the LSH candidate pin), so
    // the measurement adds one pair-keyed join + a 1-row agg.
    "d14_lsh_recall" -> { (s, dir) =>
      import s.implicits._
      val truePairs = sharedJaccardPairs(s, dir, 0.5)
        .select($"doc_i", $"doc_j")
      val cands = lshCandDocPairs(s, dir)
        .select($"doc_i", $"doc_j", lit(1L).as("hit"))
      truePairs.join(cands, Seq("doc_i", "doc_j"), "left")
        .agg(count(lit(1)).as("n_true_pairs"),
          sum(coalesce($"hit", lit(0L))).as("n_caught"))
        .select($"n_true_pairs", $"n_caught",
          ($"n_caught".cast("double") / $"n_true_pairs").as("recall"))
    },

    // D15: PER-SOURCE CAP — keep at most SourceCap docs per source,
    // chosen by the portable Knuth hash of doc_id (tiebreak doc_id) —
    // the per-domain cap every web-corpus pipeline applies so that one
    // crawler-friendly domain can't dominate the training mix. Hash
    // order (not doc_id order) makes the kept subset a uniform sample
    // of each source rather than its earliest rows, and row-by-row
    // auditable (p19's reproducible-sampling rationale). Implementation
    // is T1's bounded selection machinery (topKPerKey) keyed on the
    // source — at 100 TB the hot-domain skew this op EXISTS to fix is
    // the skew topKPerKeySalted/TopKAggregator already handle; swap in
    // either for a pathological domain without changing the result.
    "d15_source_cap" -> { (s, dir) =>
      import s.implicits._
      graft.operators.KeyedOps.topKPerKey(
          Tables.documents(s, dir)
            .select($"source", $"doc_id",
              HashFunctions.knuthHash($"doc_id").as("h")),
          Seq($"source"), Seq($"h".asc, $"doc_id".asc), SourceCap)
        .select($"source", $"doc_id", $"h", $"rank")
    },

    // D16: CONTAINMENT near-dup pairs — the asymmetric overlap measure
    // n_common/min(n_i, n_j): a short doc quoted wholesale inside a
    // longer one scores containment ≈ 1 while its Jaccard is diluted
    // toward n_small/n_large — the pair Jaccard-thresholded dedup (d2)
    // structurally misses. Reads off the SAME pinned pair-stats frame
    // as d2/d6/d7 (one pair-gen per session serves both measures; the
    // base predicate is the OR of the two bases), so the marginal cost
    // of the second measure is a filter.
    "d16_containment" -> { (s, dir) =>
      sharedContainmentPairs(s, dir, ContainBaseThreshold)
    },

    // D17: EDIT-DISTANCE VERIFICATION of near-dup candidates — the
    // Levenshtein pass that separates true page-level near-dups (small
    // character edits) from docs that merely share vocabulary (high
    // set overlap, heavy rewrites). Candidates come from the pinned
    // shared pair frame, texts join ON the candidate pairs (pair-sized
    // shuffles, never corpus²), and the O(len²) distance runs once per
    // candidate — the only place the engine pays quadratic-in-length
    // cost, bounded by candidate count by construction. At production
    // length ceilings, Spark's 3-arg levenshtein(l, r, maxDist) bound
    // turns each evaluation into O(len·maxDist); kept 2-arg here for
    // oracle parity. `verified` = relative distance ≤ 5% of the longer
    // text.
    "d17_edit_verify" -> { (s, dir) =>
      import s.implicits._
      // PRE-COLLAPSE, TEXT-KEYED (round 18 — fixes the r17 form, which
      // keyed the collapse on the hashed-shingle SET and inherited each
      // rep pair's lev across its whole group: equal shingle sets do
      // NOT imply equal texts — whitespace variants and repeated /
      // reordered n-grams collapse to one set with nonzero true edit
      // distance, so shingle-group inheritance diverges from the
      // per-doc-pair oracle on any corpus with arr-identical-but-text-
      // different docs. Only BYTE-IDENTITY of the raw text licenses
      // skipping the O(len²) distance.) The collapse unit is therefore
      // the TEXT group: each doc maps to its text-group rep (min
      // doc_id among byte-identical texts), lev/rel_dist compute once
      // per DISTINCT ordered text-rep pair actually present among the
      // candidates, and same-text pairs short-circuit to lev = 0
      // without evaluation. The candidate doc pairs still come from
      // the pinned shared pair frame (cheap bookkeeping expansion —
      // they ARE the output rows); only the quadratic-in-length
      // distance is deduplicated, now under the correct key. Lev count
      // = distinct-TEXT candidate pairs (≥ the r17 shingle-rep count
      // only when true whitespace/reorder variants exist — exactly the
      // rows r17 got wrong).
      val docs = Tables.documents(s, dir).select($"doc_id", $"text")
      // text-identity groups: doc_id -> rep, rep -> text. The group
      // EXCHANGE keys on a 256-bit digest of the text, not the raw
      // text (round 19, r18 verdict item 1 of "what's wrong"): at
      // 100 TB the group key is the multi-KB document body, and keying
      // the corpus-sized shuffle on it roughly doubles the exchange
      // bytes vs a 32-byte digest. Byte-identity semantics survive —
      // a SHA-256 collision is beyond the engine's other hash
      // assumptions — and the text itself ships ONCE, as the group's
      // first() carry.
      val tg = docs.groupBy(sha2($"text", 256).as("tdigest"))
        .agg(sort_array(collect_list($"doc_id")).as("tids"),
          first($"text").as("text"))
      val docTrep = tg.select($"tids".getItem(0).as("trep"),
        explode($"tids").as("doc_id"))
      val repText = tg.select($"tids".getItem(0).as("trep"), $"text")
      val cand = sharedJaccardPairs(s, dir, BasePairThreshold)
        .join(docTrep.select($"doc_id".as("doc_i"), $"trep".as("t_i")),
          "doc_i")
        .join(docTrep.select($"doc_id".as("doc_j"), $"trep".as("t_j")),
          "doc_j")
        .select($"doc_i", $"doc_j", $"jaccard",
          least($"t_i", $"t_j").as("ta"),
          greatest($"t_i", $"t_j").as("tb"))
      // one lev per distinct cross-text rep pair; texts join onto this
      // pair-distinct frame only (pair-sized shuffles, never corpus²)
      // levenshtein evaluates ONCE per row and rel_dist derives from
      // the column (round 19, r18 verdict item 2 of "what's wrong"):
      // whole-stage codegen's subexpression elimination deduped the
      // former twin call, but any codegen fallback — very wide texts
      // pushing past the 64KB method limit — evaluated the O(len²)
      // distance twice. lev is an exact int; the cast chain long →
      // double is value-identical to the former direct double cast.
      val need = cand.filter($"ta" =!= $"tb")
        .select($"ta", $"tb").distinct()
        .join(repText.select($"trep".as("ta"), $"text".as("text_a")), "ta")
        .join(repText.select($"trep".as("tb"), $"text".as("text_b")), "tb")
        .select($"ta", $"tb",
          levenshtein($"text_a", $"text_b").cast("long").as("lev"),
          greatest(length($"text_a"), length($"text_b")).as("mlen"))
        .select($"ta", $"tb", $"lev",
          ($"lev".cast("double") / $"mlen").as("rel_dist"))
      cand.join(need, Seq("ta", "tb"), "left")
        .select($"doc_i", $"doc_j", $"jaccard",
          coalesce($"lev", lit(0L)).as("lev"),
          coalesce($"rel_dist", lit(0.0)).as("rel_dist"))
        .select($"doc_i", $"doc_j", $"jaccard", $"lev", $"rel_dist",
          when($"rel_dist" <= 0.05, 1L).otherwise(0L).as("verified"))
    },

    // D18: INCREMENTAL dedup — the production ingest shape the
    // intra-corpus family (d2/d6/d7) stops short of: a NEW batch
    // deduped against an existing REFERENCE corpus (here: a
    // deterministic 50% hash-split stands in for the two sides). The
    // candidate join is new-shingles × reference-shingles — shuffle ∝
    // the NEW batch plus the reference's shingle index (which a real
    // deployment keeps materialized), never reference², and the new
    // batch never self-joins: cost scales with the increment, which is
    // the whole point of incremental ingest. Emits each flagged new doc
    // with its dup-partner count and best (max-Jaccard, min-id) match.
    //
    // IDENTICAL-CONTENT PRE-COLLAPSE, incremental flavor (round 16 —
    // the round-15 rep-level pattern extended to the ingest join, which
    // the 10× gate showed was the family's one remaining doc-level
    // pair-gen): the hash-split scatters a content's copies across BOTH
    // sides, so each side builds its own content groups; the shingle
    // join runs over distinct-content representatives only (identical
    // fresh/ref contents still meet through their shared shingles and
    // verify at jaccard 1, so the collapse loses no pair), and
    // membership expands afterwards — a qualifying ref group of size m
    // contributes m partners with best id the group min (ids sorted),
    // and every member of a fresh group inherits its rep's row
    // verbatim (jaccard is a content function). Join volume falls from
    // doc pairs to distinct-content pairs — the dominant saving on a
    // copy-heavy crawl (differential spec proves doc-level identity).
    "d18_incremental_dedup" -> { (s, dir) =>
      import s.implicits._
      // ONE content agg, not one per side: the split is a pure function
      // of doc_id, so each group's sorted ids partition rowwise into
      // ref/fresh member arrays via a filter HOF (sort order survives a
      // filter, so ids[0] stays each side's min = its rep).
      // explode(array(...)) is a Generate barrier (x8's pattern): the
      // size filters below cannot inline each split back into themselves
      val g = sharedContentGroups(s, dir)
        .select($"arr", explode(array(struct(
          filter($"ids", i => HashFunctions.hashSample(i, 0.5)).as("rids"),
          filter($"ids", i => !HashFunctions.hashSample(i, 0.5)).as("fids"))))
          .as("g"))
        .select($"arr", $"g.rids".as("rids"), $"g.fids".as("fids"))
      val freshG = g.filter(size($"fids") > 0)
        .select($"arr", $"fids".as("ids"))
      val refG = g.filter(size($"rids") > 0)
        .select($"arr", $"rids".as("ids"))
      val a = freshG.select($"ids".getItem(0).as("fid"),
        size($"arr").cast("long").as("n_i"), explode($"arr").as("shingle"))
      // the ref group SIZE rides the shingle rows as one long (constant
      // per rid, recovered by min) instead of joining a fourth
      // consumption of the content agg back in afterwards
      val b = refG.select($"ids".getItem(0).as("rid"),
        size($"ids").cast("long").as("m"),
        size($"arr").cast("long").as("n_j"), explode($"arr").as("shingle"))
      val repHits = a.join(b, Seq("shingle"))
        .groupBy($"fid", $"rid")
        .agg(count(lit(1)).as("n_common"),
          min($"n_i").as("n_i"), min($"n_j").as("n_j"), min($"m").as("m"))
        .select($"fid", $"rid", $"m",
          ($"n_common".cast("double") / ($"n_i" + $"n_j" - $"n_common"))
            .as("jaccard"))
        .filter($"jaccard" >= 0.5)
      repHits
        .groupBy($"fid")
        .agg(sum($"m").as("n_dup_partners"),
          max(struct($"jaccard", (-$"rid").as("negid"))).as("mx"))
        .join(freshG.select($"ids".getItem(0).as("fid"), $"ids"),
          Seq("fid"))
        .select(explode($"ids").as("doc_id"), $"n_dup_partners",
          $"mx.jaccard".as("best_jaccard"), (-$"mx.negid").as("best_ref"))
    },

    // D9: test-set DECONTAMINATION — flag training docs sharing any
    // hashed 8-gram with a held-out benchmark set (here: a deterministic
    // 5% hash-sample of the corpus standing in for the benchmark).
    // The shape is the production one: benchmark shingles are a DISTINCT
    // set, the overlap check is a plain equi-join keyed on the shingle
    // hash — shuffle ∝ corpus shingles, never O(n_corpus · n_bench).
    // No broadcast hint: real benchmark sets are small and AQE will
    // broadcast them from observed size; a hint would hard-fail if the
    // "benchmark" side ever grows (exactly this stand-in's situation).
    "d9_decontaminate" -> { (s, dir) =>
      import s.implicits._
      val sh = Tables.documents(s, dir).select($"doc_id",
        explode(HashedShinglesExpr.hashedShingles($"text", 8)).as("shingle"))
      val isBench = HashFunctions.hashSample($"doc_id", 0.05)
      val benchShingles = sh.filter(isBench).select($"shingle").distinct()
      // per-doc shingles are distinct (fused expr pass 3) and the bench
      // side is distinct, so the join emits each (doc, shingle) at most
      // once: count(*) IS the distinct-overlap count, no expand needed
      sh.filter(!isBench)
        .join(benchShingles, Seq("shingle"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_hit"))
    },

    // D29: URL-canonicalization dedup — the cheapest and FIRST dedup
    // stage of a web-crawl curation pipeline (run before any content
    // hashing: CCNet/RefinedWeb both dedup by normalized URL at ingest).
    // The corpus carries no URL column, so the query PLANTS one
    // deterministically from doc_id (the x24 PII pattern): mixed-case
    // host, optional "www." prefix, optional trailing slash, optional
    // tracking query string — the four normalization hazards.
    // Canonicalization = lowercase → strip "?…" → strip trailing "/" →
    // strip "www." after the scheme; doc_id%23 hosts × doc_id%13 paths
    // fold the corpus onto 299 canonical URLs (real collisions at
    // every fixture SF). Keeper election is the
    // crawl rule: LONGEST document wins, ties to the smallest doc_id —
    // one max-of-struct hash aggregate on the canonical key (map-side
    // partials bound the shuffle; the exchange carries one row per
    // canonical URL, never the corpus text). At 100 TB this is the
    // model shape: a short-string key agg whose cost is ∝ distinct
    // URLs, with the text column pruned away before the exchange.
    "d29_url_dedup" -> { (s, dir) =>
      import s.implicits._
      val url = concat(lit("https://"),
        when($"doc_id" % 2 === 0, lit("WWW.")).otherwise(lit("www.")),
        lit("site"), ($"doc_id" % 23).cast("string"),
        lit(".com/page/"), ($"doc_id" % 13).cast("string"),
        when($"doc_id" % 3 === 0, lit("/")).otherwise(lit("")),
        when($"doc_id" % 4 === 0,
          concat(lit("?utm_source=feed&ref="), $"doc_id".cast("string")))
          .otherwise(lit("")))
      val canon = regexp_replace(
        regexp_replace(
          regexp_replace(lower($"url"), "\\?.*$", ""),
          "/$", ""),
        "^https://www\\.", "https://")
      Tables.documents(s, dir)
        .select($"doc_id", $"n_chars", url.as("url"))
        .select($"doc_id", $"n_chars", canon.as("canonical_url"))
        .groupBy($"canonical_url")
        .agg(count(lit(1)).as("n_docs"),
          max(struct($"n_chars", (-$"doc_id").as("negid"))).as("m"))
        .select($"canonical_url", $"n_docs",
          (-$"m.negid").as("keeper_id"), $"m.n_chars".as("keeper_chars"))
    },

    // D30: CONTAMINATION REPORT — the per-source overlap-fraction
    // summary d9's membership check stops short of: for every training
    // doc, the FRACTION of its hashed 5-gram shingles that appear in
    // the held-out benchmark set (a deterministic 5% hash-sample), then
    // the per-source rollup an eval owner actually reads: how many docs
    // touch the benchmark at all, how many cross the 20% removal
    // threshold, and the corpus-level overlap rate. The GPT-3 appendix-C
    // recipe reports exactly this shape before deciding what to drop.
    // Plan: ONE shingle-keyed equi-join (train shingles × distinct
    // bench shingles — the d9 shape, shuffle ∝ corpus shingles), one
    // doc-keyed LEFT join of the per-doc hit counts back onto the
    // doc-count-sized (doc, source, n_sh) frame so zero-hit docs stay
    // in the denominators, one ~20-row source agg. Every ratio is
    // integer-exact until a single final division (flag compare is
    // n_hit·5 ≥ n_sh — no doubles in the predicate), so the report is
    // bit-stable at any partitioning.
    "d30_contamination_report" -> { (s, dir) =>
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select($"doc_id", $"source",
          HashedShinglesExpr.hashedShingles($"text", 5).as("arr"))
        .select($"doc_id", $"source",
          size($"arr").cast("long").as("n_sh"), $"arr")
      val isBench = HashFunctions.hashSample($"doc_id", 0.05)
      val benchShingles = docs.filter(isBench)
        .select(explode($"arr").as("shingle")).distinct()
      val hits = docs.filter(!isBench)
        .select($"doc_id", explode($"arr").as("shingle"))
        .join(benchShingles, Seq("shingle"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_hit"))
      docs.filter(!isBench)
        .select($"doc_id", $"source", $"n_sh")
        .join(hits, Seq("doc_id"), "left")
        .withColumn("n_hit", coalesce($"n_hit", lit(0L)))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_train_docs"),
          sum(when($"n_hit" > 0, 1L).otherwise(0L)).as("n_overlapping"),
          sum(when($"n_hit" * 5 >= $"n_sh" && $"n_sh" > 0, 1L)
            .otherwise(0L)).as("n_flagged"),
          sum($"n_hit").as("tot_hit"), sum($"n_sh").as("tot_sh"))
        .select($"source", $"n_train_docs", $"n_overlapping", $"n_flagged",
          round($"tot_hit".cast("double") / $"tot_sh", 6)
            .as("overlap_rate"))
    },

    // D31: HOST BLOCKLIST FILTER — the URL-level curation stage that
    // runs BEFORE any content op in a web-crawl pipeline (the
    // RefinedWeb/CCNet recipe: drop whole hosts from a curated
    // blocklist, then report the surviving per-host inventory). URLs
    // are the d29 deterministic synthesis (the fixture carries none);
    // host = the registrable-domain slice of the canonical form (www.
    // and case stripped — d29's canonicalization subset that matters
    // for host identity). Plan: host extraction is ROWWISE on the scan,
    // the blocklist is a ~3-row broadcast LEFT ANTI join (never a
    // shuffle at any corpus size), and the report is one ≤23-row hash
    // aggregate — at 100 TB this is a map-only filter with one tiny
    // agg, the cheapest possible gate to run first. Integer-exact
    // output (counts and char sums only).
    "d31_host_filter" -> { (s, dir) =>
      import s.implicits._
      val url = concat(lit("https://"),
        when($"doc_id" % 2 === 0, lit("WWW.")).otherwise(lit("www.")),
        lit("site"), ($"doc_id" % 23).cast("string"),
        lit(".com/page/"), ($"doc_id" % 13).cast("string"))
      val host = regexp_extract(lower($"url"),
        "^https://(?:www\\.)?([^/]+)", 1)
      val block = Seq("site0.com", "site7.com", "site13.com")
        .toDF("host")
      Tables.documents(s, dir)
        .select($"doc_id", $"n_chars", url.as("url"))
        .select($"doc_id", $"n_chars", host.as("host"))
        .join(broadcast(block), Seq("host"), "left_anti")
        .groupBy($"host")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("tot_chars"))
    },

    // D32: SOFT-DEDUP WEIGHTS — the keep-everything alternative to
    // d27's keeper election: every copy survives but carries training
    // weight 1/|cluster| over the LSH component graph, so a document
    // duplicated 40× contributes the same expected gradient mass as a
    // unique one (the down-weighting recipe used when dropping dups
    // would lose paraphrase diversity). Rides the session's ONE
    // banded pair-gen + CC fixpoint (the d26/d27 pin); cluster size
    // attaches via the d35 agg+join shape — a component-keyed COUNT
    // aggregate (map-side partial: ≤ one row per component per map
    // partition crosses the wire, whatever the cluster size) joined
    // back on component. Round-13 change from the former analytic
    // window (count().over(partitionBy(component))): a window partition
    // buffers the WHOLE component in one task — a boilerplate
    // mega-component (every "page not found" stub in a crawl) would
    // serialize corpus-scale rows through one partition that no AQE
    // feature can split, where the agg+join shape's equi-join IS
    // AQE-skew-splittable. PlanSpec pins the no-Window shape.
    // Singletons weight 1.0 by construction. weight = 1.0/n is one
    // IEEE division of exact integers — identical cross-engine without
    // rounding (the j12 rank-reciprocal precedent).
    "d32_dup_weights" -> { (s, dir) =>
      import s.implicits._
      val comp = lshDupComponents(s, dir)
      val sz = comp.groupBy($"component").agg(count(lit(1)).as("n_copies"))
      comp.join(sz, Seq("component"))
        .select($"id".as("doc_id"), $"component", $"n_copies",
          (lit(1.0) / $"n_copies").as("weight"))
    },

    // D34: INCREMENTAL COMPONENT MAINTENANCE — merge an ingest batch
    // into an EXISTING dedup-component assignment without a full-graph
    // rebuild: the production shape once the d26 graph is maintained
    // across snapshots (d18 finds the increment's pairs; this op folds
    // them into the standing components). Algorithm: CC over the BASE
    // subgraph (in production: the labels you already have on disk),
    // CONTRACT every delta edge endpoint through its base label
    // (components become super-nodes), CC over the contracted graph —
    // whose size is ∝ (touched components + new docs), NOT the corpus —
    // then one linear join-back expands base members to their final
    // label. Min-id labels survive contraction exactly (a base
    // component's rep IS its min member, so the contracted min is the
    // global min), which is why the ORACLE is the full-rebuild d26
    // component query: incremental == rebuild, proven per-row, not
    // asserted. Base/increment = d18's deterministic 50% hash-split.
    "d34_incremental_components" -> { (s, dir) =>
      import s.implicits._
      incrementalComponents(
        Tables.documents(s, dir).select($"doc_id".as("id")),
        lshVerifiedPairs(s, dir),
        c => HashFunctions.hashSample(c, 0.5))
        .select($"id".as("doc_id"), $"component")
    },

    // D33: DEDUP-AWARE TOKEN BUDGET — the per-source report a mixture
    // builder actually budgets on: raw token counts overstate a
    // source's contribution by its duplication factor, so the
    // effective mass is Σ weight·n_tok under d32's soft weights
    // (weight = 1/|LSH component|). A 40×-duplicated page contributes
    // one document's tokens to its source's budget; x12/x21-style
    // mixing should consume THESE totals, not the raw ones. Plan:
    // rides the session's ONE banded pair-gen + CC fixpoint (the
    // d26/d27/d32 pin) for the weights; token counts are one rowwise
    // corpus map; the weight attachment is a doc_id equi-join of two
    // corpus frames (linear, AQE-splittable — never keyed on a Zipf
    // term), and the output is one ≤n_sources-row hash agg. Parity:
    // counts integer-exact; each weight·n_tok product rounds at 9 and
    // accumulates in DECIMAL (order-free), final round-6 — the x9/x13
    // convention; dedup_ratio divides the decimal-summed mass by the
    // exact raw total.
    "d33_effective_tokens" -> { (s, dir) =>
      import s.implicits._
      // weights via the same agg+join shape as d32 (round 13 — was the
      // mega-component-unsafe analytic window; see the d32 note)
      val comp = lshDupComponents(s, dir)
      val sz = comp.groupBy($"component").agg(count(lit(1)).as("n_copies"))
      val w = comp.join(sz, Seq("component"))
        .select($"id".as("doc_id"), (lit(1.0) / $"n_copies").as("weight"))
      val toks = Tables.documents(s, dir)
        .select($"doc_id", $"source",
          size(TextFunctions.wsTokens($"text")).cast("long").as("n_tok"))
      toks.join(w, Seq("doc_id"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tok").as("raw_tokens"),
          sum(round($"weight" * $"n_tok", 9).cast("decimal(28,12)"))
            .as("eff9"))
        .select($"source", $"n_docs", $"raw_tokens",
          round($"eff9".cast("double"), 6).as("eff_tokens"),
          round($"eff9".cast("double") / $"raw_tokens".cast("double"), 6)
            .as("dedup_ratio"))
    },
  )

  /** The d28 excision transform over an arbitrary frame carrying
    * (doc_id, text, …): every non-keeper W-token-window occurrence is
    * removed (see the d28 query scaladoc for the keep-first policy) and
    * `text` is REPLACED by the cleaned, space-rejoined token sequence.
    * All other columns pass through; adds `n_toks` (original token
    * count) and `n_excised`. This is the form the curation pipeline
    * composes (`CuratePipelineMain --excise`); the d28 query derives
    * its stats/checksum row from it.
    */
  private[graft] def withExcisedText(docs: DataFrame, W: Int): DataFrame = {
    import docs.sparkSession.implicits._
    val passthrough = docs.columns.filter(c => c != "text").map(col).toSeq
    val toks = docs
      .select(passthrough :+
        explode(array(TextFunctions.wsTokens($"text"))).as("ts"): _*)
    // round 14: the gram stream comes straight from the fused
    // poly_fp_windows expression (see d25 — one compiled call per doc,
    // bit-identical fingerprints), generated from `text` in both
    // keeper-join branches
    val grams = docs
      .select($"doc_id",
        explode(array(
          graft.functions.PolyFpWindowsExpr.polyFpWindows($"text", W)))
          .as("fps"))
      .filter(size($"fps") > 0)
      .select($"doc_id", posexplode($"fps").as(Seq("pos0", "fp")))
      .select($"doc_id", $"pos0".cast("long").as("pos"), $"fp")
    // keeper election by agg + equi-join (round 14, r13 verdict item
    // 4): min-of-struct folds map-side per fp — a boilerplate mega-fp
    // contributes one partial row per map partition instead of
    // serializing its whole instance set through one fp-window
    // partition — and the join back is AQE-skew-splittable. The gram
    // generation runs in both branches (two linear passes, the d25
    // trade); the keepers side is one row per DISTINCT fp.
    val keepers = grams
      .groupBy($"fp")
      .agg(min(struct($"doc_id", $"pos")).as("keeper"))
    val excised = grams
      .join(keepers, "fp")
      .filter(struct($"doc_id", $"pos") =!= $"keeper")
    val cov = excised
      .select($"doc_id",
        explode(expr(s"sequence(pos, pos + ${W - 1})")).as("t"))
      .groupBy($"doc_id")
      .agg(sort_array(collect_set($"t")).as("cov"))
    toks
      .join(cov, Seq("doc_id"), "left")
      .withColumn("cov",
        coalesce($"cov", expr("CAST(array() AS array<bigint>)")))
      .withColumn("cleaned", filter($"ts",
        (w, i) => !array_contains($"cov", i.cast("long"))))
      .select(passthrough ++ Seq(
        array_join($"cleaned", " ").as("text"),
        size($"ts").cast("long").as("n_toks"),
        size($"cov").cast("long").as("n_excised")): _*)
  }

  /** d28's stats/checksum row over an arbitrary (doc_id, text) frame
    * (see the query entry's scaladoc for the policy). Package-visible
    * so the planted-duplicate spec exercises the production path:
    * (doc_id, n_toks, n_excised, n_kept, checksum), one row per doc.
    */
  private[graft] def substringExcision(docs: DataFrame, W: Int): DataFrame = {
    import docs.sparkSession.implicits._
    withExcisedText(docs.select($"doc_id", $"text"), W)
      .select($"doc_id", $"n_toks", $"n_excised",
        ($"n_toks" - $"n_excised").as("n_kept"),
        HashFunctions.javaStringHashCode($"text")
          .cast("long").as("checksum"))
  }

  /** d23's one plan (see the d23 query scaladoc): each shingle's sorted
    * source set (collect_set after a (shingle, source) pre-dedup), one
    * explode of its source pairs plus per-source size markers into a
    * ≤S²+S-row aggregate, collected, and the Jaccard finish on the
    * driver — one corpus chain, no pin.
    */
  private[graft] def sourceOverlapBySet(docs: DataFrame): DataFrame = {
    val sess = docs.sparkSession
    import sess.implicits._
    val perShingle = docs
      .select($"source",
        explode(HashedShinglesExpr.hashedShingles($"text", 8)).as("shingle"))
      // pre-dedup on (shingle, source) in a CODEGEN hash agg before the
      // object-hash collect_set: the exchange carries distinct pairs
      // and the non-codegen set aggregate sees S-bounded group sizes
      // (A/B'd round 14: measurably faster than collect_set over the
      // raw instance stream, and the map-side combine bounds a hot
      // shingle the same way the LM-family (doc, term) agg does)
      .groupBy($"shingle", $"source").agg(count(lit(1)))
      .groupBy($"shingle")
      .agg(sort_array(collect_set($"source")).as("srcs"))
    val pairCol = when(size($"srcs") >= 2, flatten(transform(
        sequence(lit(1), size($"srcs") - 1),
        i => transform(slice($"srcs", i + 1, size($"srcs")),
          b => struct(element_at($"srcs", i).as("src_i"), b.as("src_j"))))))
      .otherwise(array().cast("array<struct<src_i:string,src_j:string>>"))
    val markers = transform($"srcs",
      s0 => struct(s0.as("src_i"), lit(null).cast("string").as("src_j")))
    // The combined (pair + size-marker) aggregate is ≤ S²+S rows —
    // sources are a DIMENSION, so this is constant-bounded at any
    // corpus scale. COLLECT it (the j5/a17 doctrine) and finish the
    // Jaccard arithmetic on the driver: the corpus chain runs exactly
    // once as the collect job, and the round-12 bounded-frame pin +
    // two joins (whose broadcast/AQE machinery cost more than the rows
    // they carried) disappear entirely.
    val combined = perShingle
      .select(explode(concat(pairCol, markers)).as("p"))
      .groupBy($"p.src_i".as("src_i"), $"p.src_j".as("src_j"))
      .agg(count(lit(1)).as("n"))
      .collect()
    val sizes = combined.filter(_.isNullAt(1))
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val out = combined.filter(!_.isNullAt(1)).toSeq.map { r =>
      val (si, sj, nc) = (r.getString(0), r.getString(1), r.getLong(2))
      // round-half-up on the double quotient — same as Spark round()
      val j = BigDecimal(nc.toDouble / (sizes(si) + sizes(sj) - nc).toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (si, sj, nc, j)
    }
    sess.createDataFrame(out)
      .toDF("src_i", "src_j", "n_common", "jaccard")
  }

  /** d12 core: per-doc shared-shingle fraction. A doc's shingles are
    * already DISTINCT (fused expr pass 3), so a shingle's row count IS
    * its document frequency, and a shingle with df >= 2 is "shared";
    * docs with fewer than n tokens have no shingles and no row. df is a
    * window count over ONE shingle-clustered exchange (the round-10
    * j11/d25 pattern): one shingle-gen pass, one repartition(shingle),
    * then the per-doc agg (its own doc-keyed exchange, map-side
    * partial). The trade: a boilerplate-hot shingle lands whole in one
    * window partition, which no runtime feature can split;
    * `x34_skew_report` reports that case before a run.
    */
  private[graft] def ngramNovelty(docs: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docs.select(col("doc_id"),
        explode(HashedShinglesExpr.hashedShingles(col("text"), n)).as("shingle"))
      .repartition(col("shingle"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("shingle"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_shingles")).as("shared_frac"))
  }

  /** Pinned group-pair frame shared by d4_simhash_pairs' guard +
    * expansion and d4_group_stats (round 18, r17 ADVICE): ONE
    * persist(MEMORY_AND_DISK) per (session, dir) — NOT a fresh
    * localCheckpoint per invocation, which (a) accumulated
    * GC-reclaimed-only checkpoint blocks across repeated runs and
    * plan-only consumers, and (b) broke the pin doctrine: a lost
    * executor's non-replicated checkpoint blocks fail the query, while
    * a persisted frame keeps lineage and recomputes (PinRecoverySpec).
    * Row count is collision-bounded (distinct-hash pairs), so the pin
    * is small; released via `Pins.evict`.
    */
  private[graft] def sharedSimhashGroupPairs(s: SparkSession,
                                             dir: String): DataFrame =
    Pins.frame("simhash_group_pairs", s, Some(dir))(simhashGroupPairs(s, dir))

  /** GROUP-FORM SimHash near-dup frame — the documented 100 TB output
    * contract for the d4 family (round-16 verdict item 1): one row per
    * colliding DISTINCT-SIMHASH pair within Hamming distance 3,
    *   (simhash_i, simhash_j, ids_i, ids_j, n_pairs, hamming),
    * plus one row per multi-doc identical-hash group (simhash_i =
    * simhash_j, ids_i = ids_j, hamming = 0, n_pairs = n(n-1)/2).
    *
    * Scale shape: docs canonicalize onto distinct simhash values first
    * (verbatim-copy mass collapses to one hash row), the 8-bit band join
    * runs on DISTINCT hashes only (a pair within Hamming 3 of a 4x8-bit
    * split must agree on >= 1 band, by pigeonhole — recall is exact),
    * and the frame's row count is collision-bounded — NEVER quadratic in
    * copy-clique size. The doc-pair expansion (d4_simhash_pairs) IS
    * clique-quadratic, which is why it sits behind the
    * `graft.d4.maxPairs` fail-fast guard and why 100 TB consumers should
    * take this frame instead: cluster membership, keeper election, and
    * pair counts all read off (ids_i, ids_j, hamming) directly.
    */
  private[graft] def simhashGroupPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val groups = Tables.documents(s, dir)
      .select($"doc_id", simhash($"text").as("simhash"))
      .groupBy($"simhash")
      .agg(sort_array(collect_list($"doc_id")).as("ids"))
    // identical-hash groups: n(n-1)/2 pairs at hamming 0 (long math —
    // a 10M-copy clique overflows Int; shiftright keeps the /2 in exact
    // integer arithmetic — Column./ is double division)
    val nl = size($"ids").cast("bigint")
    val intra = groups.filter(size($"ids") > 1)
      .select($"simhash".as("simhash_i"), $"simhash".as("simhash_j"),
        $"ids".as("ids_i"), $"ids".as("ids_j"),
        shiftright(nl * (nl - 1L), 1).as("n_pairs"), lit(0L).as("hamming"))
    val bands = groups.select($"simhash", $"ids", posexplode(
        array((0 until 4).map(b =>
          shiftright($"simhash", b * 8).bitwiseAND(lit(255L))): _*)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_key")
    val inter = bands.as("a")
      .join(bands.as("b"),
        $"a.band_idx" === $"b.band_idx" && $"a.band_key" === $"b.band_key" &&
        $"a.simhash" < $"b.simhash")
      .select($"a.simhash".as("simhash_i"), $"b.simhash".as("simhash_j"),
        $"a.ids".as("ids_i"), $"b.ids".as("ids_j"),
        (size($"a.ids").cast("bigint") * size($"b.ids").cast("bigint"))
          .as("n_pairs"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("bigint").as("hamming"))
      .filter($"hamming" <= 3)
      .distinct() // a pair may agree on several bands; all other columns
                  // are pure functions of (simhash_i, simhash_j)
    intra.unionAll(inter)
  }

  /** The dedup family's MinHash signature (NumPerm permutations, P) of
    * a shingle-array column — rowwise, codegen'd ([[MinHashSigExpr]]).
    */
  private[graft] def minhashSig(arr: Column): Column =
    MinHashSigExpr.minhashSig(arr, NumPerm, P)

  /** Band-blocked candidate pairs from a (doc_id, sig[, carry…]) frame:
    * docs agreeing on at least one full band — the engine's ONE
    * band-pair implementation (the LSH candidate pin and the
    * differential spec's doc-level reference both run it).
    *
    * Shape ([[pairAgg]]'s): each band key (band_idx, its BandSize
    * minima — a struct of longs read straight off the signature, so the
    * Generate runs no lambda) is ONE exchange that collects its docs;
    * a double-`explode` emits every same-band pair, and the (doc_i,
    * doc_j) group dedupes pairs agreeing on several bands. Identical
    * signatures share every band, so they pair with no special case.
    * Any columns besides doc_id and sig must be functions of doc_id;
    * they come out as `<c>_i`/`<c>_j` (the pin carries `ids` this way).
    */
  private[graft] def lshBandPairs(sigs: DataFrame): DataFrame = {
    val carry = sigs.columns.toSeq.filterNot(Set("doc_id", "sig"))
    val bands = sigs.select(col("sig"),
      struct(("doc_id" +: carry).map(col): _*).as("doc"),
      explode(array((0 until NumPerm / BandSize).map { b =>
        struct(lit(b).as("band_idx") +: (0 until BandSize).map(k =>
          col("sig").getItem(b * BandSize + k).as(s"m$k")): _*)
      }: _*)).as("band"))
    blockPairs(bands.groupBy(col("band"))
        .agg(collect_list(col("doc")).as("docs")), carry)
      .count().drop("count")
  }

  /** 32-bit SimHash of whitespace tokens (with multiplicity): bit b of
    * the result is set iff the sum over tokens of ±1 (sign = bit b of the
    * token's u32 Java hash) is positive. Fused codegen'd expression —
    * see `SimHashExpr` for why the composed HOF form was replaced.
    */
  private def simhash(text: Column): Column =
    graft.functions.SimHashExpr.simhash32(text)

  private def ws(e: String) = OracleFragments.wsTokens(e)

  /** `doc_id, hs` — per-doc token u32-hash list (replays pass 1 of
    * `HashedShinglesExpr.compute`).
    */
  private def tokenHashDocsSql: String =
    s"""SELECT doc_id, list_transform(${ws("text")},
       |  w -> ${OracleFragments.javaHashU32("w")}) AS hs FROM documents""".stripMargin

  /** Distinct hashed n-gram shingles over a token-hash list column `hs`
    * (replays passes 2-3: g = (g*1000003 + h) mod 2^32 over the window).
    */
  private def shingleListSqlN(hs: String, n: Int): String = {
    val fold = (1 until n).foldLeft(s"$hs[i]") { (acc, k) =>
      s"(($acc * 1000003 + $hs[i+$k]) % 4294967296)"
    }
    s"""CASE WHEN len($hs) >= $n THEN list_distinct(
       |  list_transform(generate_series(1, len($hs) - ${n - 1}), i -> $fold))
       |  ELSE []::BIGINT[] END""".stripMargin
  }

  private def shingleListSql(hs: String): String = shingleListSqlN(hs, 3)

  /** `sh(doc_id, shingle)` CTE body — exploded hashed shingles. */
  private def shSql: String =
    s"""SELECT doc_id, unnest(${shingleListSql("hs")}) AS shingle
       |FROM ($tokenHashDocsSql)""".stripMargin

  /** Shared recursive-CTE prologue ending in `comp(id, component)` —
    * transitive closure of the Jaccard≥0.5 pair graph (d7, d10).
    */
  private def componentsCteSql: String =
    s"""WITH RECURSIVE sh AS (
       |  $shSql),
       |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |pairs AS (
       |  SELECT doc_i AS src, doc_j AS dst FROM (
       |    SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, count(*) AS n_common
       |    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |    GROUP BY 1, 2) c
       |  JOIN sz x ON c.doc_i = x.doc_id
       |  JOIN sz y ON c.doc_j = y.doc_id
       |  WHERE n_common::DOUBLE / (x.n_sh + y.n_sh - n_common) >= 0.5),
       |edges AS (
       |  SELECT src, dst FROM pairs
       |  UNION SELECT dst, src FROM pairs),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS label FROM documents
       |  UNION
       |  SELECT e.dst AS id, r.label
       |  FROM reach r JOIN edges e ON r.id = e.src),
       |comp AS (
       |  SELECT id, min(label) AS component FROM reach GROUP BY id)""".stripMargin

  /** Shared recursive-CTE prologue ending in `comp(id, component)` for
    * the LSH-candidate-restricted pair graph (d26, d27) — the banded
    * candidate set, exact-Jaccard verified, closed transitively.
    */
  private def lshComponentsCteSql: String =
    s"""WITH RECURSIVE sigs AS ($minhashSql),
       |bands AS (
       |  ${bandRowsSql("doc_id", "sigs")}),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |    AND a.doc_id < b.doc_id),
       |sh AS (SELECT doc_id, ${shingleListSql("hs")} AS arr
       |       FROM ($tokenHashDocsSql)),
       |pairs AS (
       |  SELECT doc_i AS src, doc_j AS dst FROM cand
       |  JOIN sh sa ON doc_i = sa.doc_id
       |  JOIN sh sb ON doc_j = sb.doc_id
       |  WHERE len(list_filter(sa.arr, e -> list_contains(sb.arr, e)))::DOUBLE
       |    / (len(sa.arr) + len(sb.arr)
       |       - len(list_filter(sa.arr, e -> list_contains(sb.arr, e)))) >= 0.5),
       |edges AS (
       |  SELECT src, dst FROM pairs
       |  UNION SELECT dst, src FROM pairs),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS label FROM documents
       |  UNION
       |  SELECT e.dst AS id, r.label
       |  FROM reach r JOIN edges e ON r.id = e.src),
       |comp AS (
       |  SELECT id, min(label) AS component FROM reach GROUP BY id)""".stripMargin

  /** The NumPerm MinHash minima `m0…m15` of shingle-list column `set`
    * (replays `MinHashSigExpr`: (h·(2j+1) + 12345j + 1) mod P).
    */
  private def minhashPermsSql(set: String): String =
    (0 until NumPerm).map { j =>
      s"""list_min(list_transform($set,
         |  h -> (h * ${2L * j + 1} + ${12345L * j + 1}) % $P)) AS m$j""".stripMargin
    }.mkString(",\n  ")

  /** One `(id, band_idx, band_key)` row per LSH band of every `src` row's
    * `m0…m15` minima: a UNION ALL of one select per band.
    */
  private def bandRowsSql(id: String, src: String): String =
    (0 until NumPerm / BandSize).map { b =>
      val cols = (b * BandSize until (b + 1) * BandSize)
        .map(j => s"m$j::VARCHAR").mkString(", ")
      s"SELECT $id, $b AS band_idx, concat_ws(',', $cols) AS band_key FROM $src"
    }.mkString("\n  UNION ALL ")

  private def minhashSql: String =
    s"""SELECT doc_id, ${minhashPermsSql("sgl")}
       |FROM (SELECT doc_id, ${shingleListSql("hs")} AS sgl
       |      FROM ($tokenHashDocsSql))
       |WHERE len(sgl) > 0""".stripMargin // docs w/o shingles never enter the Spark agg

  private def simhashSql: String = {
    val bits = (0 until 32).map { b =>
      s"""CASE WHEN list_reduce(list_prepend(0::BIGINT,
         |  list_transform(hs, h -> CASE WHEN ((h >> $b) & 1) = 1
         |    THEN 1::BIGINT ELSE -1::BIGINT END)),
         |  (a, x) -> a + x) > 0 THEN ${1L << b}::BIGINT ELSE 0 END""".stripMargin
    }.mkString(" + ")
    s"""SELECT doc_id, ($bits) AS simhash
       |FROM (SELECT doc_id, list_transform(${ws("text")},
       |        w -> ${OracleFragments.javaHashU32("w")}) AS hs
       |      FROM documents)""".stripMargin
  }

  /** Shared contraction CTEs for every rep-level DuckDB replay: text →
    * sorted distinct shingle set → groups (rep = min doc_id, ids),
    * membership, and within-group ordered pairs.
    */
  private def repContractionCtes: String =
    s"""th AS (
       |  SELECT doc_id, list_sort(${shingleListSql("hs")}) AS skey
       |  FROM ($tokenHashDocsSql)),
       |g AS (
       |  SELECT skey, min(doc_id) AS rep, list_sort(list(doc_id)) AS ids
       |  FROM th GROUP BY skey),
       |memb AS (
       |  SELECT rep, len(skey) AS n_sh, unnest(ids) AS doc_id
       |  FROM g WHERE len(skey) > 0),
       |intra AS (
       |  SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, a.n_sh
       |  FROM memb a JOIN memb b ON a.rep = b.rep
       |    AND a.doc_id < b.doc_id)""".stripMargin

  /** Rep-level per-pair set statistics (= repPairStats): one row per
    * distinct-set pair sharing >= 1 shingle, ending in `rps`.
    */
  private def repStatsCtes: String =
    s"""rsh AS (
       |  SELECT rep, unnest(skey) AS shingle, len(skey) AS n_sh
       |  FROM g WHERE len(skey) > 0),
       |rp AS (
       |  SELECT a.rep AS ri, b.rep AS rj, count(*) AS n_common,
       |         min(a.n_sh) AS n_i, min(b.n_sh) AS n_j
       |  FROM rsh a JOIN rsh b ON a.shingle = b.shingle AND a.rep < b.rep
       |  GROUP BY 1, 2),
       |rps AS (
       |  SELECT ri, rj, n_common, n_i, n_j,
       |         n_common::DOUBLE / (n_i + n_j - n_common) AS jaccard,
       |         n_common::DOUBLE / least(n_i, n_j) AS containment
       |  FROM rp)""".stripMargin

  /** Rep-level minhash sigs + banding + distinct candidate rep pairs,
    * ending in `cand(ri, rj)`.
    */
  private def repBandingCtes: String =
    s"""rsig AS (
       |  SELECT rep, ${minhashPermsSql("skey")}
       |  FROM g WHERE len(skey) > 0),
       |bands AS (
       |  ${bandRowsSql("rep", "rsig")}),
       |cand AS (
       |  SELECT DISTINCT a.rep AS ri, b.rep AS rj
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |    AND a.rep < b.rep)""".stripMargin

  /** Exact set Jaccard of two joined `g` rows aliased ga/gb. */
  private def repJaccardExpr: String =
    """len(list_filter(ga.skey, e -> list_contains(gb.skey, e)))::DOUBLE
      |    / (len(ga.skey) + len(gb.skey)
      |       - len(list_filter(ga.skey, e -> list_contains(gb.skey, e))))""".stripMargin

  /** Verified rep pairs from the banded candidates, ending in
    * `rpairs(ri, rj)` — the LSH family's edge contract.
    */
  private def repLshVerifiedCtes: String =
    s"""$repBandingCtes,
       |rpairs AS (
       |  SELECT ri, rj FROM cand
       |  JOIN g ga ON ga.rep = cand.ri
       |  JOIN g gb ON gb.rep = cand.rj
       |  WHERE $repJaccardExpr >= 0.5)""".stripMargin

  /** Contracted drop-in for [[componentsCteSql]]/[[lshComponentsCteSql]]:
    * the SAME ending relation `comp(id, component)`, but the recursive
    * closure runs over the ~distinct-content rep graph and members
    * inherit their rep's label — affordable at fixtures where the
    * doc-level closure is not. Min-label equivalence: every rep is its
    * group's min doc_id, and a doc-level component's min doc is the min
    * over its member groups' reps (the engine's contractedComponents
    * argument, re-derived in SQL). Docs outside `memb` (empty shingle
    * set — each its own group in doc-level semantics since they never
    * pair) and singleton-content docs with no edges label themselves.
    */
  private def contractedCompCte(edgeCtes: String): String =
    s"""WITH RECURSIVE $repContractionCtes,
       |$edgeCtes,
       |redges AS (
       |  SELECT ri AS src, rj AS dst FROM rpairs
       |  UNION SELECT rj, ri FROM rpairs),
       |rreach AS (
       |  SELECT rep AS id, rep AS label FROM g WHERE len(skey) > 0
       |  UNION
       |  SELECT e.dst AS id, r.label
       |  FROM rreach r JOIN redges e ON r.id = e.src),
       |rcomp AS (
       |  SELECT id AS rep, min(label) AS component FROM rreach GROUP BY id),
       |lab AS (
       |  SELECT m.doc_id AS id, rc.component
       |  FROM memb m JOIN rcomp rc ON m.rep = rc.rep),
       |comp AS (
       |  SELECT d.doc_id AS id, coalesce(l.component, d.doc_id) AS component
       |  FROM documents d LEFT JOIN lab l ON d.doc_id = l.id)""".stripMargin

  private def contractedComponentsCteSql: String = contractedCompCte(
    s"""$repStatsCtes,
       |rpairs AS (SELECT ri, rj FROM rps WHERE jaccard >= 0.5)""".stripMargin)

  private def contractedLshComponentsCteSql: String =
    contractedCompCte(repLshVerifiedCtes)

  /** The (certified doc-level, contracted rep-level) prologue pairs —
    * exposed so CcReplaySpec can assert the swap ROUND-TRIPS: undoing
    * it on a contracted replay reproduces the certified oracle text
    * byte-for-byte, i.e. the replay differs ONLY in the closure.
    */
  private[graft] def contractionSwaps: Seq[(String, String)] = Seq(
    componentsCteSql -> contractedComponentsCteSql,
    lshComponentsCteSql -> contractedLshComponentsCteSql)

  /** The nine component-consuming registry oracles with their recursive
    * doc-level `comp` prologue swapped for the contracted rep-level one
    * — the downstream SQL (quality election, weights, splits, audits)
    * is reused VERBATIM, so the replay differs from the certified
    * oracle only in the closure's contraction, which the union-find
    * check attests independently. Throws if an oracle's text stops
    * embedding the prologue (the swap must never silently no-op).
    */
  private[graft] def contractedOracleSql: Map[String, String] = {
    val swaps = contractionSwaps
    Seq("d7_dup_components", "d10_best_keeper", "d21_leakage_split",
      "d26_lsh_dedup_components", "d27_lsh_keeper", "d32_dup_weights",
      "d33_effective_tokens", "d34_incremental_components",
      "d35_dedup_audit").map { n =>
      val sql = oracle(n)
      val swapped = swaps.foldLeft(sql) { case (s, (from, to)) =>
        s.replace(from, to)
      }
      require(swapped != sql, s"$n: no comp prologue found to contract")
      n -> swapped
    }.toMap
  }

  /** DuckDB replay SQL for the CC family's verified PAIR frames at
    * scales where the doc-level oracle is unaffordable (round 19, r18
    * verdict item 2 — the engine-independent 100× attestation of the
    * pair/CC family). The trick that makes the replay affordable is the
    * same contraction the engine runs, RE-DERIVED independently: rep
    * collapse keyed on the SORTED DISTINCT shingle set. Jaccard and
    * every minhash permutation are functions of the set alone, so the
    * collapse is lossless for the doc-level pair frame — within-group
    * pairs have jaccard 1 (always over threshold), cross-group pairs
    * compute once per set pair and expand through membership — and the
    * DuckDB cost scales with DISTINCT contents, not the 100× verbatim
    * copy mass. (The engine groups on its arr column — first-occurrence
    * order — so set-identical docs may sit in different engine groups;
    * their cross pairs then arrive via a jaccard-1 rep pair instead of
    * the intra branch. The doc-level pair SET is identical either way.)
    * `tools/cc_check.py` runs these against the engine's pair dumps
    * (CCAttestation) — both EXCEPT directions must be zero — then
    * reproduces the component labels with a pure-Python union-find.
    */
  private[graft] def ccReplaySql: Map[String, String] = {
    val prologue = s"WITH ${repContractionCtes}"
    val repStats = repStatsCtes
    def expansion(repCols: String, docCols: String,
                  intraCols: String): String =
      s"""inter AS (
         |  SELECT least(x.doc_id, y.doc_id) AS doc_i,
         |         greatest(x.doc_id, y.doc_id) AS doc_j$repCols
         |  FROM rpairs JOIN memb x ON ri = x.rep JOIN memb y ON rj = y.rep)
         |SELECT doc_i, doc_j$docCols FROM inter
         |UNION ALL SELECT doc_i, doc_j$intraCols FROM intra""".stripMargin
    val exact =
      s"""$prologue,
         |$repStats,
         |rpairs AS (SELECT ri, rj FROM rps WHERE jaccard >= 0.5),
         |${expansion("", "", "")}""".stripMargin
    // d2's registry output: the shared pair frame at base threshold 0.3
    val d2 =
      s"""$prologue,
         |$repStats,
         |rpairs AS (SELECT ri, rj, jaccard FROM rps WHERE jaccard >= 0.3),
         |${expansion(", jaccard", ", jaccard", ", 1.0::DOUBLE AS jaccard")}""".stripMargin
    // d16's registry output: containment >= 0.9 with full stats; n_i/n_j
    // swap with the doc order exactly as expandStats does
    val d16 =
      s"""$prologue,
         |$repStats,
         |rpairs AS (SELECT * FROM rps WHERE containment >= 0.9),
         |inter AS (
         |  SELECT least(x.doc_id, y.doc_id) AS doc_i,
         |         greatest(x.doc_id, y.doc_id) AS doc_j,
         |         n_common,
         |         CASE WHEN x.doc_id < y.doc_id THEN n_i ELSE n_j END AS n_i,
         |         CASE WHEN x.doc_id < y.doc_id THEN n_j ELSE n_i END AS n_j,
         |         containment, jaccard
         |  FROM rpairs JOIN memb x ON ri = x.rep JOIN memb y ON rj = y.rep)
         |SELECT doc_i, doc_j, n_common, n_i, n_j, containment, jaccard
         |FROM inter
         |UNION ALL
         |SELECT doc_i, doc_j, n_sh AS n_common, n_sh AS n_i, n_sh AS n_j,
         |  1.0::DOUBLE AS containment, 1.0::DOUBLE AS jaccard
         |FROM intra""".stripMargin
    val banding = repBandingCtes
    val repJaccard = repJaccardExpr
    val lsh =
      s"""$prologue,
         |$repLshVerifiedCtes,
         |${expansion("", "", "")}""".stripMargin
    // d3's registry output: the UNVERIFIED banded candidate doc pairs
    val d3 =
      s"""$prologue,
         |$banding,
         |rpairs AS (SELECT ri, rj FROM cand),
         |${expansion("", "", "")}""".stripMargin
    // d11's registry output: candidates scored with the minhash
    // agreement estimate AND the exact set Jaccard
    val est = (0 until NumPerm)
      .map(j => s"(CASE WHEN sa.m$j = sb.m$j THEN 1 ELSE 0 END)")
      .mkString(" + ")
    val d11 =
      s"""$prologue,
         |$banding,
         |rpairs AS (
         |  SELECT ri, rj,
         |    ($est)::DOUBLE / $NumPerm AS jaccard_est,
         |    $repJaccard AS jaccard
         |  FROM cand
         |  JOIN rsig sa ON sa.rep = cand.ri
         |  JOIN rsig sb ON sb.rep = cand.rj
         |  JOIN g ga ON ga.rep = cand.ri
         |  JOIN g gb ON gb.rep = cand.rj),
         |${expansion(", jaccard_est, jaccard", ", jaccard_est, jaccard",
                      ", 1.0::DOUBLE AS jaccard_est, 1.0::DOUBLE AS jaccard")}""".stripMargin
    // the remaining pair-consuming oracles, contracted bespoke: each
    // reuses the certified oracle's FINAL select verbatim over a
    // rep-expanded stand-in for its doc-level pair/chunk CTE
    val d6 =
      s"""$prologue,
         |$repStats,
         |rpairs AS (SELECT ri, rj FROM rps WHERE jaccard >= 0.5),
         |inter AS (
         |  SELECT least(x.doc_id, y.doc_id) AS doc_i,
         |         greatest(x.doc_id, y.doc_id) AS doc_j
         |  FROM rpairs JOIN memb x ON ri = x.rep JOIN memb y ON rj = y.rep),
         |losers AS (
         |  SELECT DISTINCT doc_j AS doc_id FROM (
         |    SELECT doc_i, doc_j FROM inter
         |    UNION ALL SELECT doc_i, doc_j FROM intra))
         |SELECT lang, count(*) AS n_kept FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
         |GROUP BY lang""".stripMargin
    val d14 =
      s"""$prologue,
         |$repStats,
         |rpe AS (SELECT ri, rj FROM rps WHERE jaccard >= 0.5),
         |tp AS (
         |  SELECT least(x.doc_id, y.doc_id) AS doc_i,
         |         greatest(x.doc_id, y.doc_id) AS doc_j
         |  FROM rpe JOIN memb x ON ri = x.rep JOIN memb y ON rj = y.rep
         |  UNION ALL SELECT doc_i, doc_j FROM intra),
         |$banding,
         |candd AS (
         |  SELECT least(x.doc_id, y.doc_id) AS doc_i,
         |         greatest(x.doc_id, y.doc_id) AS doc_j
         |  FROM cand JOIN memb x ON ri = x.rep JOIN memb y ON rj = y.rep
         |  UNION ALL SELECT doc_i, doc_j FROM intra)
         |SELECT count(*) AS n_true_pairs,
         |  sum(CASE WHEN c.doc_i IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         |    AS n_caught,
         |  sum(CASE WHEN c.doc_i IS NOT NULL THEN 1 ELSE 0 END)::BIGINT::DOUBLE
         |    / count(*) AS recall
         |FROM tp LEFT JOIN candd c USING (doc_i, doc_j)""".stripMargin
    // d17: pairs at base 0.3; the O(len²) levenshtein runs once per
    // DISTINCT unordered TEXT pair (keyed on text groups, NOT shingle
    // groups — the engine's round-18 correctness key, re-derived here)
    // with identical texts short-circuited to 0, then joins back onto
    // the expanded pair rows
    val d17 =
      s"""$prologue,
         |$repStats,
         |rpairs AS (SELECT ri, rj, jaccard FROM rps
         |           WHERE jaccard >= $BasePairThreshold),
         |allp AS (
         |  SELECT least(x.doc_id, y.doc_id) AS doc_i,
         |         greatest(x.doc_id, y.doc_id) AS doc_j, jaccard
         |  FROM rpairs JOIN memb x ON ri = x.rep JOIN memb y ON rj = y.rep
         |  UNION ALL
         |  SELECT doc_i, doc_j, 1.0::DOUBLE AS jaccard FROM intra),
         |tgrp AS (SELECT text, min(doc_id) AS trep FROM documents
         |         GROUP BY text),
         |tmap AS (SELECT d.doc_id, t.trep FROM documents d
         |         JOIN tgrp t ON d.text = t.text),
         |tkey AS (
         |  SELECT p.doc_i, p.doc_j, p.jaccard,
         |         least(x.trep, y.trep) AS ta, greatest(x.trep, y.trep) AS tb
         |  FROM allp p JOIN tmap x ON p.doc_i = x.doc_id
         |              JOIN tmap y ON p.doc_j = y.doc_id),
         |lv AS (
         |  SELECT ta, tb,
         |    CASE WHEN ta = tb THEN 0::BIGINT
         |         ELSE levenshtein(a.text, b.text)::BIGINT END AS lev,
         |    CASE WHEN ta = tb THEN 0.0::DOUBLE
         |         ELSE levenshtein(a.text, b.text)::DOUBLE
         |           / greatest(len(a.text), len(b.text)) END AS rel_dist
         |  FROM (SELECT DISTINCT ta, tb FROM tkey) t
         |  JOIN documents a ON t.ta = a.doc_id
         |  JOIN documents b ON t.tb = b.doc_id)
         |SELECT k.doc_i, k.doc_j, k.jaccard, lv.lev, lv.rel_dist,
         |  CASE WHEN lv.rel_dist <= 0.05 THEN 1::BIGINT ELSE 0::BIGINT END
         |    AS verified
         |FROM tkey k JOIN lv USING (ta, tb)""".stripMargin
    // d18: the new-vs-ref split is a DOC-level predicate (contraction
    // does not commute with it), so it applies AFTER expansion; the
    // jaccard >= 0.5 final filter pushes onto the rep pairs (monotone)
    val d18 =
      s"""$prologue,
         |$repStats,
         |rpairs AS (SELECT ri, rj, jaccard FROM rps WHERE jaccard >= 0.5),
         |allp AS (
         |  SELECT least(x.doc_id, y.doc_id) AS doc_i,
         |         greatest(x.doc_id, y.doc_id) AS doc_j, jaccard
         |  FROM rpairs JOIN memb x ON ri = x.rep JOIN memb y ON rj = y.rep
         |  UNION ALL
         |  SELECT doc_i, doc_j, 1.0::DOUBLE AS jaccard FROM intra),
         |dir AS (
         |  SELECT doc_i AS a, doc_j AS b, jaccard FROM allp
         |  UNION ALL SELECT doc_j AS a, doc_i AS b, jaccard FROM allp),
         |pairs AS (
         |  SELECT a AS doc_id, b AS ref_id, jaccard FROM dir
         |  WHERE NOT ((${OracleFragments.knuthU32("a")}) < 2147483648)
         |    AND (${OracleFragments.knuthU32("b")}) < 2147483648)
         |SELECT doc_id, count(*) AS n_dup_partners,
         |  max(jaccard) AS best_jaccard,
         |  first(ref_id ORDER BY jaccard DESC, ref_id) AS best_ref
         |FROM pairs WHERE jaccard >= 0.5
         |GROUP BY doc_id""".stripMargin
    // d20: PageRank over the UNVERIFIED banded candidate graph — the
    // doc-level pairs CTE swaps for the contracted candidate expansion,
    // downstream (edges/deg/2 unrolled damped iterations with round-9
    // decimal accumulation) verbatim from the certified oracle
    def contrib(pr: String): String =
      s"""SELECT dst AS doc_id,
         |    CAST(sum(CAST(round(p.pr / deg.deg, 9) AS DECIMAL(28,12)))
         |      AS DOUBLE) AS m
         |  FROM edges JOIN deg ON edges.src = deg.src
         |    JOIN $pr p ON edges.src = p.doc_id
         |  GROUP BY 1""".stripMargin
    def rankOf(c: String, scale: Int): String =
      s"""SELECT d.doc_id,
         |    round(0.15 / n + 0.85 * coalesce($c.m, 0.0), $scale) AS pr
         |  FROM (SELECT doc_id FROM documents) d
         |  LEFT JOIN $c ON d.doc_id = $c.doc_id, n""".stripMargin
    val d20 =
      s"""$prologue,
         |$banding,
         |pairs AS (
         |  SELECT least(x.doc_id, y.doc_id) AS doc_i,
         |         greatest(x.doc_id, y.doc_id) AS doc_j
         |  FROM cand JOIN memb x ON ri = x.rep JOIN memb y ON rj = y.rep
         |  UNION ALL SELECT doc_i, doc_j FROM intra),
         |edges AS (
         |  SELECT doc_i AS src, doc_j AS dst FROM pairs
         |  UNION ALL SELECT doc_j AS src, doc_i AS dst FROM pairs),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         |n AS (SELECT count(*)::BIGINT AS n FROM documents),
         |pr0 AS (SELECT doc_id, 1.0 / n AS pr FROM documents, n),
         |c1 AS (
         |  ${contrib("pr0")}),
         |pr1 AS (
         |  ${rankOf("c1", 9)}),
         |c2 AS (
         |  ${contrib("pr1")})
         |${rankOf("c2", 6)}""".stripMargin
    // d23: source-level 8-gram overlap — the per-doc explode collapses
    // to DISTINCT (source, text) before sharding into shingles (the
    // downstream DISTINCT (source, shingle) makes this lossless)
    val d23 =
      s"""WITH sh AS (
         |  SELECT source, unnest(${shingleListSqlN("hs", 8)}) AS shingle
         |  FROM (SELECT source, list_transform(${OracleFragments.wsTokens("text")},
         |    w -> ${OracleFragments.javaHashU32("w")}) AS hs
         |    FROM (SELECT DISTINCT source, text FROM documents))),
         |ss AS (SELECT DISTINCT source, shingle FROM sh),
         |sz AS (SELECT source, count(*)::BIGINT AS n FROM ss GROUP BY 1)
         |SELECT a.source AS src_i, b.source AS src_j,
         |  count(*)::BIGINT AS n_common,
         |  round(count(*)::DOUBLE / (si.n + sj.n - count(*))::DOUBLE, 6)
         |    AS jaccard
         |FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
         |JOIN sz si ON si.source = a.source
         |JOIN sz sj ON sj.source = b.source
         |GROUP BY a.source, b.source, si.n, sj.n""".stripMargin
    // d13: CDC chunks are a pure function of the text, so the chunk
    // pipeline runs once per DISTINCT text; nd (docs sharing a fp)
    // re-weights by group size, and the per-rep stats row replicates
    // to every member. The source swap is GUARDED like the comp-
    // prologue swaps (round-19 review): a chunksSql refactor that
    // stops matching must fail loudly, not silently revert the replay
    // to doc-level cost.
    val repChunksSql = {
      val swapped = TextAnalytics.chunksSql
        .replace("FROM documents", "FROM repdocs")
      require(swapped != TextAnalytics.chunksSql,
        "d13 replay: chunksSql no longer reads 'FROM documents' — " +
          "update the contracted source swap")
      swapped
    }
    val d13 =
      s"""WITH tgrp AS (
         |  SELECT text, min(doc_id) AS trep, count(*)::BIGINT AS k,
         |         list_sort(list(doc_id)) AS ids
         |  FROM documents GROUP BY text),
         |repdocs AS (SELECT trep AS doc_id, text FROM tgrp),
         |chunks AS ($repChunksSql),
         |f AS (SELECT doc_id AS trep, fp FROM chunks WHERE chunk_len = 64),
         |fpdocs AS (
         |  SELECT fp, sum(k)::BIGINT AS nd
         |  FROM (SELECT DISTINCT trep, fp FROM f)
         |  JOIN tgrp USING (trep) GROUP BY fp),
         |repstats AS (
         |  SELECT trep, count(*) AS n_chunks,
         |    sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_chunks,
         |    sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::BIGINT::DOUBLE
         |      / count(*) AS dup_frac
         |  FROM f JOIN fpdocs USING (fp)
         |  GROUP BY trep)
         |SELECT m.doc_id, r.n_chunks, r.n_dup_chunks, r.dup_frac
         |FROM repstats r
         |JOIN (SELECT trep, unnest(ids) AS doc_id FROM tgrp) m
         |  USING (trep)""".stripMargin
    // d25/d28: the poly-fp window family. Grams are pure functions of
    // the text, so gram generation runs once per DISTINCT text; the
    // cross-doc statistics re-weight by group size. d25's df counts
    // INSTANCES (sum of group-size x per-text occurrences); d28's
    // keep-first keeper for a fp is the globally-min doc holding it =
    // the min TEXT-GROUP rep (every rep is its group's min id), at that
    // text's first occurrence — so each group needs exactly TWO output
    // variants: the rep doc (keeps its first occurrences of fps it
    // globally owns) and every copy (ids > rep, so every one of their
    // instances has an earlier instance in the rep: all excised).
    val textGroups =
      s"""tgrp AS (
         |  SELECT text, min(doc_id) AS trep, count(*)::BIGINT AS k,
         |         list_sort(list(doc_id)) AS ids
         |  FROM documents GROUP BY text),
         |tmemb AS (SELECT trep, unnest(ids) AS doc_id FROM tgrp)""".stripMargin
    val d25 =
      s"""WITH $textGroups,
         |th AS (
         |  SELECT trep, list_transform(${OracleFragments.wsTokens("text")},
         |    w -> ${OracleFragments.javaHashU32("w")}) AS hs FROM tgrp),
         |g AS (
         |  SELECT trep, len(hs)::BIGINT AS n_toks, i::BIGINT AS pos,
         |    list_reduce(list_prepend(0::BIGINT, hs[i+1 : i+8]),
         |      (a, x) -> ((a * 31 + x) % 1000000007 + 1000000007)
         |        % 1000000007) AS fp
         |  FROM (SELECT trep, hs,
         |          unnest(generate_series(0, len(hs) - 8)) AS i
         |        FROM th WHERE len(hs) >= 8)),
         |gc AS (SELECT trep, fp, count(*)::BIGINT AS c FROM g GROUP BY 1, 2),
         |dfh AS (
         |  SELECT fp, sum(k * c)::BIGINT AS df
         |  FROM gc JOIN tgrp USING (trep) GROUP BY fp),
         |dup AS (SELECT trep, n_toks, pos FROM g JOIN dfh USING (fp)
         |        WHERE df >= 2),
         |marked AS (
         |  SELECT trep, n_toks, pos,
         |    CASE WHEN pos - lag(pos) OVER (PARTITION BY trep
         |        ORDER BY pos) <= 8 THEN 0 ELSE 1 END AS new_span
         |  FROM dup),
         |sp AS (
         |  SELECT trep, n_toks, pos,
         |    sum(new_span) OVER (PARTITION BY trep ORDER BY pos
         |      ROWS UNBOUNDED PRECEDING) AS span_id
         |  FROM marked),
         |spans AS (
         |  SELECT trep, n_toks, span_id, count(*)::BIGINT AS n_grams,
         |    min(pos) AS s, max(pos) AS e
         |  FROM sp GROUP BY 1, 2, 3),
         |rep_out AS (
         |  SELECT trep, sum(n_grams)::BIGINT AS n_dup_grams,
         |    count(*)::BIGINT AS n_spans,
         |    sum(e - s + 8)::BIGINT AS dup_tokens,
         |    round(sum(e - s + 8)::DOUBLE / n_toks, 6) AS dup_frac
         |  FROM spans GROUP BY trep, n_toks)
         |SELECT m.doc_id, r.n_dup_grams, r.n_spans, r.dup_tokens,
         |  r.dup_frac
         |FROM rep_out r JOIN tmemb m USING (trep)""".stripMargin
    val d28 =
      s"""WITH $textGroups,
         |th AS (
         |  SELECT trep, ${OracleFragments.wsTokens("text")} AS ts,
         |    list_transform(${OracleFragments.wsTokens("text")},
         |      w -> ${OracleFragments.javaHashU32("w")}) AS hs
         |  FROM tgrp),
         |g AS (
         |  SELECT trep, i::BIGINT AS pos,
         |    list_reduce(list_prepend(0::BIGINT, hs[i+1 : i+8]),
         |      (a, x) -> ((a * 31 + x) % 1000000007 + 1000000007)
         |        % 1000000007) AS fp
         |  FROM (SELECT trep, hs,
         |          unnest(generate_series(0, len(hs) - 8)) AS i
         |        FROM th WHERE len(hs) >= 8)),
         |fpmin AS (SELECT fp, min(trep) AS t0 FROM g GROUP BY 1),
         |fstp AS (SELECT trep, fp, min(pos) AS p0 FROM g GROUP BY 1, 2),
         |keeppos AS (
         |  SELECT f.fp, f.t0 AS trep, s.p0 AS pos
         |  FROM fpmin f JOIN fstp s ON s.trep = f.t0 AND s.fp = f.fp),
         |exc_rep AS (
         |  SELECT g.trep, g.pos FROM g
         |  ANTI JOIN keeppos kp ON g.trep = kp.trep AND g.fp = kp.fp
         |    AND g.pos = kp.pos),
         |cov_rep AS (
         |  SELECT DISTINCT trep, pos + j AS t
         |  FROM exc_rep, (SELECT unnest(generate_series(0, 7)) AS j)),
         |cov_copy AS (
         |  SELECT DISTINCT trep, pos + j AS t
         |  FROM g, (SELECT unnest(generate_series(0, 7)) AS j)),
         |tok AS (
         |  SELECT trep, i - 1 AS t0, ts[i] AS w
         |  FROM (SELECT trep, ts, unnest(generate_series(1, len(ts))) AS i
         |        FROM th)),
         |ka_rep AS (
         |  SELECT tok.trep, count(*)::BIGINT AS n_kept,
         |    string_agg(w, ' ' ORDER BY t0) AS cleaned
         |  FROM tok ANTI JOIN cov_rep ON tok.trep = cov_rep.trep
         |    AND tok.t0 = cov_rep.t
         |  GROUP BY 1),
         |ka_copy AS (
         |  SELECT tok.trep, count(*)::BIGINT AS n_kept,
         |    string_agg(w, ' ' ORDER BY t0) AS cleaned
         |  FROM tok ANTI JOIN cov_copy ON tok.trep = cov_copy.trep
         |    AND tok.t0 = cov_copy.t
         |  GROUP BY 1),
         |out_rep AS (
         |  SELECT th.trep, len(th.ts)::BIGINT AS n_toks,
         |    (len(th.ts) - coalesce(n_kept, 0))::BIGINT AS n_excised,
         |    coalesce(n_kept, 0)::BIGINT AS n_kept,
         |    CASE WHEN cleaned IS NULL OR cleaned = '' THEN 0
         |         ELSE ${OracleFragments.javaHash("cleaned")} END AS checksum
         |  FROM th LEFT JOIN ka_rep ON th.trep = ka_rep.trep),
         |out_copy AS (
         |  SELECT th.trep, len(th.ts)::BIGINT AS n_toks,
         |    (len(th.ts) - coalesce(n_kept, 0))::BIGINT AS n_excised,
         |    coalesce(n_kept, 0)::BIGINT AS n_kept,
         |    CASE WHEN cleaned IS NULL OR cleaned = '' THEN 0
         |         ELSE ${OracleFragments.javaHash("cleaned")} END AS checksum
         |  FROM th LEFT JOIN ka_copy ON th.trep = ka_copy.trep)
         |SELECT m.doc_id,
         |  CASE WHEN m.doc_id = m.trep THEN r.n_toks ELSE c.n_toks END
         |    AS n_toks,
         |  CASE WHEN m.doc_id = m.trep THEN r.n_excised ELSE c.n_excised END
         |    AS n_excised,
         |  CASE WHEN m.doc_id = m.trep THEN r.n_kept ELSE c.n_kept END
         |    AS n_kept,
         |  CASE WHEN m.doc_id = m.trep THEN r.checksum ELSE c.checksum END
         |    AS checksum
         |FROM tmemb m
         |JOIN out_rep r USING (trep)
         |JOIN out_copy c USING (trep)""".stripMargin
    Map("pairs_exact" -> exact, "pairs_lsh" -> lsh,
      "d2_jaccard_pairs" -> d2, "d16_containment" -> d16,
      "d3_lsh_pairs" -> d3, "d11_lsh_verify" -> d11,
      "d6_dedup_corpus" -> d6, "d14_lsh_recall" -> d14,
      "d17_edit_verify" -> d17, "d18_incremental_dedup" -> d18,
      "d20_dup_pagerank" -> d20, "d23_source_overlap" -> d23,
      "d13_chunk_dedup" -> d13, "d25_substring_spans" -> d25,
      "d28_substring_excision" -> d28) ++ contractedOracleSql
  }

  override def oracle: Map[String, String] = Map(
    "d1_exact_dedup" ->
      """SELECT md5(text) AS digest, min(doc_id) AS keeper,
        |  count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,

    // keep-first replayed as row_number() = 1 over (doc_id, pos) — the
    // rank-1 row IS the Spark side's min-struct keeper; empty cleaned
    // text hashes to 0 on both sides (javaHash('') guard: DuckDB's
    // char-fold cannot take the empty string)
    "d28_substring_excision" ->
      s"""WITH th AS (
         |  SELECT doc_id, ${ws("text")} AS ts,
         |    list_transform(${ws("text")},
         |      w -> ${OracleFragments.javaHashU32("w")}) AS hs
         |  FROM documents),
         |g AS (
         |  SELECT doc_id, i::BIGINT AS pos,
         |    list_reduce(list_prepend(0::BIGINT, hs[i+1 : i+8]),
         |      (a, x) -> ((a * 31 + x) % 1000000007 + 1000000007)
         |        % 1000000007) AS fp
         |  FROM (SELECT doc_id, hs,
         |          unnest(generate_series(0, len(hs) - 8)) AS i
         |        FROM th WHERE len(hs) >= 8)),
         |exc AS (
         |  SELECT doc_id, pos FROM (
         |    SELECT doc_id, pos, row_number() OVER (PARTITION BY fp
         |      ORDER BY doc_id, pos) AS rk FROM g)
         |  WHERE rk > 1),
         |cov AS (
         |  SELECT DISTINCT doc_id, pos + j AS t
         |  FROM exc, (SELECT unnest(generate_series(0, 7)) AS j)),
         |tok AS (
         |  SELECT doc_id, i - 1 AS t0, ts[i] AS w
         |  FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS i
         |        FROM th)),
         |kept AS (
         |  SELECT tok.doc_id, t0, w FROM tok
         |  ANTI JOIN cov ON tok.doc_id = cov.doc_id AND tok.t0 = cov.t),
         |ka AS (
         |  SELECT doc_id, count(*)::BIGINT AS n_kept,
         |    string_agg(w, ' ' ORDER BY t0) AS cleaned
         |  FROM kept GROUP BY 1)
         |SELECT th.doc_id, len(th.ts)::BIGINT AS n_toks,
         |  (len(th.ts) - coalesce(n_kept, 0))::BIGINT AS n_excised,
         |  coalesce(n_kept, 0)::BIGINT AS n_kept,
         |  CASE WHEN cleaned IS NULL OR cleaned = '' THEN 0
         |       ELSE ${OracleFragments.javaHash("cleaned")} END AS checksum
         |FROM th LEFT JOIN ka ON th.doc_id = ka.doc_id""".stripMargin,

    "d25_substring_spans" ->
      s"""WITH th AS (
         |  $tokenHashDocsSql),
         |g AS (
         |  SELECT doc_id, len(hs)::BIGINT AS n_toks, i::BIGINT AS pos,
         |    list_reduce(list_prepend(0::BIGINT, hs[i+1 : i+8]),
         |      (a, x) -> ((a * 31 + x) % 1000000007 + 1000000007)
         |        % 1000000007) AS fp
         |  FROM (SELECT doc_id, hs,
         |          unnest(generate_series(0, len(hs) - 8)) AS i
         |        FROM th WHERE len(hs) >= 8)),
         |dfh AS (SELECT fp, count(*)::BIGINT AS df FROM g GROUP BY 1),
         |dup AS (SELECT doc_id, n_toks, pos FROM g JOIN dfh USING (fp)
         |        WHERE df >= 2),
         |marked AS (
         |  SELECT doc_id, n_toks, pos,
         |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id
         |        ORDER BY pos) <= 8 THEN 0 ELSE 1 END AS new_span
         |  FROM dup),
         |sp AS (
         |  SELECT doc_id, n_toks, pos,
         |    sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS UNBOUNDED PRECEDING) AS span_id
         |  FROM marked),
         |spans AS (
         |  SELECT doc_id, n_toks, span_id, count(*)::BIGINT AS n_grams,
         |    min(pos) AS s, max(pos) AS e
         |  FROM sp GROUP BY 1, 2, 3)
         |SELECT doc_id, sum(n_grams)::BIGINT AS n_dup_grams,
         |  count(*)::BIGINT AS n_spans,
         |  sum(e - s + 8)::BIGINT AS dup_tokens,
         |  round(sum(e - s + 8)::DOUBLE / n_toks, 6) AS dup_frac
         |FROM spans GROUP BY doc_id, n_toks""".stripMargin,

    // 0.5 * 2^32 = 2147483648 — hashSample's driver-truncated threshold
    "d18_incremental_dedup" ->
      s"""WITH sh AS (
         |  $shSql),
         |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |tagged AS (
         |  SELECT sh.doc_id, shingle, n_sh,
         |    (${OracleFragments.knuthU32("sh.doc_id")}) < 2147483648 AS is_ref
         |  FROM sh JOIN sz USING (doc_id)),
         |pairs AS (
         |  SELECT a.doc_id, b.doc_id AS ref_id,
         |    count(*)::DOUBLE / (a.n_sh + b.n_sh - count(*)) AS jaccard
         |  FROM tagged a JOIN tagged b ON a.shingle = b.shingle
         |  WHERE NOT a.is_ref AND b.is_ref
         |  GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh)
         |SELECT doc_id, count(*) AS n_dup_partners,
         |  max(jaccard) AS best_jaccard,
         |  first(ref_id ORDER BY jaccard DESC, ref_id) AS best_ref
         |FROM pairs WHERE jaccard >= 0.5
         |GROUP BY doc_id""".stripMargin,

    "d15_source_cap" ->
      s"""SELECT source, doc_id, h, CAST(rank AS INTEGER) AS rank FROM (
         |  SELECT source, doc_id,
         |    (${OracleFragments.knuthU32("doc_id")})::BIGINT AS h,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY (${OracleFragments.knuthU32("doc_id")}), doc_id)
         |      AS rank
         |  FROM documents)
         |WHERE rank <= $SourceCap""".stripMargin,

    "d16_containment" ->
      s"""WITH sh AS (
         |  $shSql),
         |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |common AS (
         |  SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, count(*) AS n_common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_i, doc_j, n_common,
         |  x.n_sh AS n_i, y.n_sh AS n_j,
         |  n_common::DOUBLE / least(x.n_sh, y.n_sh) AS containment,
         |  n_common::DOUBLE / (x.n_sh + y.n_sh - n_common) AS jaccard
         |FROM common
         |JOIN sz x ON doc_i = x.doc_id
         |JOIN sz y ON doc_j = y.doc_id
         |WHERE n_common::DOUBLE / least(x.n_sh, y.n_sh)
         |  >= $ContainBaseThreshold""".stripMargin,

    "d17_edit_verify" ->
      s"""WITH sh AS (
         |  $shSql),
         |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |pairs AS (
         |  SELECT doc_i, doc_j,
         |    n_common::DOUBLE / (x.n_sh + y.n_sh - n_common) AS jaccard
         |  FROM (
         |    SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, count(*) AS n_common
         |    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2) c
         |  JOIN sz x ON c.doc_i = x.doc_id
         |  JOIN sz y ON c.doc_j = y.doc_id
         |  WHERE n_common::DOUBLE / (x.n_sh + y.n_sh - n_common)
         |    >= $BasePairThreshold)
         |SELECT doc_i, doc_j, jaccard,
         |  levenshtein(a.text, b.text)::BIGINT AS lev,
         |  levenshtein(a.text, b.text)::DOUBLE
         |    / greatest(len(a.text), len(b.text)) AS rel_dist,
         |  CASE WHEN levenshtein(a.text, b.text)::DOUBLE
         |      / greatest(len(a.text), len(b.text)) <= 0.05
         |    THEN 1::BIGINT ELSE 0::BIGINT END AS verified
         |FROM pairs
         |JOIN documents a ON doc_i = a.doc_id
         |JOIN documents b ON doc_j = b.doc_id""".stripMargin,

    "d2_jaccard_pairs" ->
      s"""WITH sh AS (
         |  $shSql),
         |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |common AS (
         |  SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, count(*) AS n_common
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_i, doc_j,
         |  n_common::DOUBLE / (x.n_sh + y.n_sh - n_common) AS jaccard
         |FROM common
         |JOIN sz x ON doc_i = x.doc_id
         |JOIN sz y ON doc_j = y.doc_id
         |WHERE n_common::DOUBLE / (x.n_sh + y.n_sh - n_common) >= 0.3""".stripMargin,

    "d3_minhash_sig" -> {
      val sigStr = (0 until NumPerm).map(j => s"m$j::VARCHAR").mkString(", ")
      val bandCols = (0 until NumPerm / BandSize).map { b =>
        val cols = (b * BandSize until (b + 1) * BandSize)
          .map(j => s"m$j::VARCHAR").mkString(", ")
        s"concat_ws(',', $cols) AS band$b"
      }.mkString(",\n  ")
      s"""SELECT doc_id, concat_ws(',', $sigStr) AS sig,
         |  $bandCols
         |FROM ($minhashSql)""".stripMargin
    },

    "d3_lsh_pairs" ->
      s"""WITH sigs AS ($minhashSql),
         |bands AS (
         |  ${bandRowsSql("doc_id", "sigs")})
         |SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j
         |FROM bands a JOIN bands b
         |  ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         |  AND a.doc_id < b.doc_id""".stripMargin,

    "d20_dup_pagerank" -> {
      def contrib(pr: String): String =
        s"""SELECT dst AS doc_id,
           |    CAST(sum(CAST(round(p.pr / deg.deg, 9) AS DECIMAL(28,12)))
           |      AS DOUBLE) AS m
           |  FROM edges JOIN deg ON edges.src = deg.src
           |    JOIN $pr p ON edges.src = p.doc_id
           |  GROUP BY 1""".stripMargin
      def rankOf(c: String, scale: Int): String =
        s"""SELECT d.doc_id,
           |    round(0.15 / n + 0.85 * coalesce($c.m, 0.0), $scale) AS pr
           |  FROM (SELECT doc_id FROM documents) d
           |  LEFT JOIN $c ON d.doc_id = $c.doc_id, n""".stripMargin
      s"""WITH sigs AS ($minhashSql),
         |bands AS (
         |  ${bandRowsSql("doc_id", "sigs")}),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         |    AND a.doc_id < b.doc_id),
         |edges AS (
         |  SELECT doc_i AS src, doc_j AS dst FROM pairs
         |  UNION ALL SELECT doc_j AS src, doc_i AS dst FROM pairs),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         |n AS (SELECT count(*)::BIGINT AS n FROM documents),
         |pr0 AS (SELECT doc_id, 1.0 / n AS pr FROM documents, n),
         |c1 AS (
         |  ${contrib("pr0")}),
         |pr1 AS (
         |  ${rankOf("c1", 9)}),
         |c2 AS (
         |  ${contrib("pr1")})
         |${rankOf("c2", 6)}""".stripMargin
    },

    "d21_leakage_split" ->
      s"""$componentsCteSql,
         |labeled AS (
         |  SELECT id, component,
         |    (${OracleFragments.knuthU32("component")}) % 100 AS bucket
         |  FROM comp)
         |SELECT CASE WHEN bucket < 80 THEN 'train'
         |            WHEN bucket < 90 THEN 'val'
         |            ELSE 'test' END AS split,
         |  count(*) AS n_docs,
         |  count(DISTINCT component) AS n_components
         |FROM labeled
         |GROUP BY 1""".stripMargin,

    "d22_snapshot_diff" ->
      s"""WITH b AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 13 = 0 THEN text || ' rev2' ELSE text END
         |      AS text
         |  FROM documents WHERE doc_id % 11 <> 0
         |  UNION ALL
         |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents)
         |    AS doc_id, 'new ' || text AS text
         |  FROM documents WHERE doc_id % 17 = 0),
         |ah AS (SELECT doc_id, md5(text) AS ha FROM documents),
         |bh AS (SELECT doc_id, md5(text) AS hb FROM b),
         |j AS (
         |  SELECT coalesce(ah.doc_id, bh.doc_id) AS doc_id, ha, hb
         |  FROM ah FULL OUTER JOIN bh ON ah.doc_id = bh.doc_id)
         |SELECT CASE WHEN hb IS NULL THEN 'removed'
         |            WHEN ha IS NULL THEN 'added'
         |            WHEN ha <> hb THEN 'changed'
         |            ELSE 'unchanged' END AS status,
         |  count(*)::BIGINT AS n_docs,
         |  sum(${OracleFragments.knuthU32("doc_id")})::BIGINT AS id_checksum
         |FROM j GROUP BY 1""".stripMargin,

    "d24_normalized_dedup" ->
      s"""WITH aug AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents)
         |    AS doc_id, upper(text) || ' !!' AS text
         |  FROM documents WHERE doc_id % 9 = 0),
         |h AS (
         |  SELECT doc_id,
         |    md5(array_to_string(${OracleFragments.tokenize("text")}, ' '))
         |      AS digest
         |  FROM aug)
         |SELECT digest, min(doc_id) AS keeper, count(*)::BIGINT AS n_docs,
         |  sum(${OracleFragments.knuthU32("doc_id")})::BIGINT AS id_checksum
         |FROM h GROUP BY 1 HAVING count(*) >= 2""".stripMargin,

    "d23_source_overlap" ->
      s"""WITH sh AS (
         |  SELECT source, unnest(${shingleListSqlN("hs", 8)}) AS shingle
         |  FROM (SELECT source, list_transform(${ws("text")},
         |    w -> ${OracleFragments.javaHashU32("w")}) AS hs FROM documents)),
         |ss AS (SELECT DISTINCT source, shingle FROM sh),
         |sz AS (SELECT source, count(*)::BIGINT AS n FROM ss GROUP BY 1)
         |SELECT a.source AS src_i, b.source AS src_j,
         |  count(*)::BIGINT AS n_common,
         |  round(count(*)::DOUBLE / (si.n + sj.n - count(*))::DOUBLE, 6)
         |    AS jaccard
         |FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
         |JOIN sz si ON si.source = a.source
         |JOIN sz sj ON sj.source = b.source
         |GROUP BY a.source, b.source, si.n, sj.n""".stripMargin,

    "d6_dedup_corpus" ->
      s"""WITH sh AS (
         |  $shSql),
         |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |losers AS (
         |  SELECT DISTINCT doc_j AS doc_id FROM (
         |    SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, count(*) AS n_common
         |    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2) c
         |  JOIN sz x ON c.doc_i = x.doc_id
         |  JOIN sz y ON c.doc_j = y.doc_id
         |  WHERE n_common::DOUBLE / (x.n_sh + y.n_sh - n_common) >= 0.5)
         |SELECT lang, count(*) AS n_kept FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
         |GROUP BY lang""".stripMargin,

    "d7_dup_components" ->
      s"""$componentsCteSql
         |SELECT component, count(*) AS n_docs FROM comp
         |GROUP BY component
         |HAVING count(*) > 1""".stripMargin,

    "d10_best_keeper" ->
      s"""$componentsCteSql,
         |q AS (${TextAnalytics.qualitySubSql}),
         |j AS (SELECT c.component, q.doc_id, q.quality
         |      FROM comp c JOIN q ON c.id = q.doc_id)
         |SELECT component, n_docs, keeper, keeper_quality FROM (
         |  SELECT component,
         |    count(*) OVER (PARTITION BY component) AS n_docs,
         |    doc_id AS keeper, quality AS keeper_quality,
         |    row_number() OVER (PARTITION BY component
         |      ORDER BY quality DESC, doc_id) AS r
         |  FROM j)
         |WHERE r = 1 AND n_docs > 1""".stripMargin,

    "d4_simhash" -> simhashSql,

    "d4_simhash_pairs" ->
      s"""WITH sh AS ($simhashSql),
         |bands AS (
         |  SELECT doc_id, simhash, unnest([0,1,2,3]) AS band_idx,
         |    unnest([simhash & 255, (simhash >> 8) & 255,
         |            (simhash >> 16) & 255, (simhash >> 24) & 255]) AS band_key
         |  FROM sh)
         |SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM bands a JOIN bands b
         |  ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         |  AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,

    // group form: the band join's recall is exact within Hamming 3
    // (pigeonhole over 4x8-bit bands), so the oracle needs no band
    // simulation — all distinct-hash pairs at hamming <= 3. G (distinct
    // simhash count) is corpus-content-bounded, so the G² join is cheap
    // even at the 20x fixture.
    "d4_group_stats" ->
      s"""WITH sh AS ($simhashSql),
         |g AS (SELECT simhash, count(*)::BIGINT AS n FROM sh GROUP BY 1)
         |SELECT a.simhash AS simhash_i, b.simhash AS simhash_j,
         |  a.n AS n_i, b.n AS n_j, (a.n * b.n)::BIGINT AS n_pairs,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM g a JOIN g b ON a.simhash < b.simhash
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |UNION ALL
         |SELECT simhash, simhash, n, n,
         |  ((n * (n - 1)) // 2)::BIGINT, 0::BIGINT
         |FROM g WHERE n > 1""".stripMargin,

    "d11_lsh_verify" -> {
      val est = (0 until NumPerm)
        .map(j => s"(CASE WHEN x.m$j = y.m$j THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH sigs AS ($minhashSql),
         |bands AS (
         |  ${bandRowsSql("doc_id", "sigs")}),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         |    AND a.doc_id < b.doc_id),
         |sh AS (SELECT doc_id, ${shingleListSql("hs")} AS arr
         |       FROM ($tokenHashDocsSql))
         |SELECT doc_i, doc_j,
         |  ($est)::DOUBLE / $NumPerm AS jaccard_est,
         |  len(list_filter(sa.arr, e -> list_contains(sb.arr, e)))::DOUBLE
         |    / (len(sa.arr) + len(sb.arr)
         |       - len(list_filter(sa.arr, e -> list_contains(sb.arr, e))))
         |    AS jaccard
         |FROM cand
         |JOIN sigs x ON doc_i = x.doc_id
         |JOIN sigs y ON doc_j = y.doc_id
         |JOIN sh sa ON doc_i = sa.doc_id
         |JOIN sh sb ON doc_j = sb.doc_id""".stripMargin
    },

    "d26_lsh_dedup_components" ->
      s"""$lshComponentsCteSql
         |SELECT component, count(*) AS n_docs FROM comp
         |GROUP BY component
         |HAVING count(*) > 1""".stripMargin,

    "d27_lsh_keeper" ->
      s"""$lshComponentsCteSql,
         |q AS (${TextAnalytics.qualitySubSql}),
         |j AS (SELECT c.component, q.doc_id, q.quality
         |      FROM comp c JOIN q ON c.id = q.doc_id)
         |SELECT component, n_docs, keeper, keeper_quality FROM (
         |  SELECT component,
         |    count(*) OVER (PARTITION BY component) AS n_docs,
         |    doc_id AS keeper, quality AS keeper_quality,
         |    row_number() OVER (PARTITION BY component
         |      ORDER BY quality DESC, doc_id) AS r
         |  FROM j)
         |WHERE r = 1 AND n_docs > 1""".stripMargin,

    "d12_ngram_novelty" ->
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(${shingleListSqlN("hs", 8)}) AS shingle
         |  FROM ($tokenHashDocsSql)),
         |docfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1)
         |SELECT doc_id, count(*) AS n_shingles,
         |  sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_shared,
         |  sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::BIGINT::DOUBLE
         |    / count(*) AS shared_frac
         |FROM sh JOIN docfreq USING (shingle)
         |GROUP BY 1""".stripMargin,

    "d14_lsh_recall" -> {
      s"""WITH sh AS (
         |  $shSql),
         |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |tp AS (
         |  SELECT doc_i, doc_j FROM (
         |    SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, count(*) AS n_common
         |    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2) c
         |  JOIN sz x ON c.doc_i = x.doc_id
         |  JOIN sz y ON c.doc_j = y.doc_id
         |  WHERE n_common::DOUBLE / (x.n_sh + y.n_sh - n_common) >= 0.5),
         |sigs AS ($minhashSql),
         |bands AS (
         |  ${bandRowsSql("doc_id", "sigs")}),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         |    AND a.doc_id < b.doc_id)
         |SELECT count(*) AS n_true_pairs,
         |  sum(CASE WHEN c.doc_i IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         |    AS n_caught,
         |  sum(CASE WHEN c.doc_i IS NOT NULL THEN 1 ELSE 0 END)::BIGINT::DOUBLE
         |    / count(*) AS recall
         |FROM tp LEFT JOIN cand c USING (doc_i, doc_j)""".stripMargin
    },

    "d13_chunk_dedup" ->
      s"""WITH chunks AS (${TextAnalytics.chunksSql}),
         |f AS (SELECT doc_id, fp FROM chunks WHERE chunk_len = 64),
         |fpdocs AS (
         |  SELECT fp, count(DISTINCT doc_id) AS nd FROM f GROUP BY 1)
         |SELECT doc_id, count(*) AS n_chunks,
         |  sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_chunks,
         |  sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)::BIGINT::DOUBLE
         |    / count(*) AS dup_frac
         |FROM f JOIN fpdocs USING (fp)
         |GROUP BY 1""".stripMargin,

    "d9_decontaminate" -> {
      // same truncation as hashSample's (frac * 2^32).toLong
      val thr = (0.05 * 4294967296.0).toLong
      val bench = s"${OracleFragments.knuthU32("doc_id")} < $thr"
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(${shingleListSqlN("hs", 8)}) AS shingle
         |  FROM ($tokenHashDocsSql)),
         |bench AS (SELECT DISTINCT shingle FROM sh WHERE $bench)
         |SELECT sh.doc_id, count(*) AS n_hit
         |FROM sh JOIN bench USING (shingle)
         |WHERE NOT ($bench)
         |GROUP BY 1""".stripMargin
    },

    "d29_url_dedup" ->
      s"""WITH u AS (
         |  SELECT doc_id, n_chars,
         |    'https://' ||
         |      CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE 'www.' END ||
         |      'site' || (doc_id % 23)::VARCHAR ||
         |      '.com/page/' || (doc_id % 13)::VARCHAR ||
         |      CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END ||
         |      CASE WHEN doc_id % 4 = 0
         |        THEN '?utm_source=feed&ref=' || doc_id::VARCHAR
         |        ELSE '' END AS url
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, n_chars,
         |    regexp_replace(
         |      regexp_replace(
         |        regexp_replace(lower(url), '\\?.*$$', ''),
         |        '/$$', ''),
         |      '^https://www\\.', 'https://') AS canonical_url
         |  FROM u)
         |SELECT canonical_url, count(*)::BIGINT AS n_docs,
         |  first(doc_id ORDER BY n_chars DESC, doc_id) AS keeper_id,
         |  max(n_chars)::BIGINT AS keeper_chars
         |FROM c GROUP BY 1""".stripMargin,

    "d30_contamination_report" -> {
      val thr = (0.05 * 4294967296.0).toLong
      val bench = s"${OracleFragments.knuthU32("doc_id")} < $thr"
      s"""WITH th AS (
         |  SELECT doc_id, source, list_transform(${ws("text")},
         |    w -> ${OracleFragments.javaHashU32("w")}) AS hs
         |  FROM documents),
         |d AS (
         |  SELECT doc_id, source,
         |    ${shingleListSqlN("hs", 5)} AS arr FROM th),
         |docs AS (
         |  SELECT doc_id, source, len(arr)::BIGINT AS n_sh, arr FROM d),
         |bench AS (
         |  SELECT DISTINCT unnest(arr) AS shingle FROM docs
         |  WHERE $bench),
         |hits AS (
         |  SELECT sh.doc_id, count(*)::BIGINT AS n_hit FROM
         |    (SELECT doc_id, unnest(arr) AS shingle FROM docs
         |     WHERE NOT ($bench)) sh
         |  JOIN bench USING (shingle) GROUP BY 1),
         |j AS (
         |  SELECT docs.source, COALESCE(h.n_hit, 0) AS n_hit, docs.n_sh
         |  FROM docs LEFT JOIN hits h USING (doc_id)
         |  WHERE NOT ($bench))
         |SELECT source, count(*)::BIGINT AS n_train_docs,
         |  sum(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END)::BIGINT
         |    AS n_overlapping,
         |  sum(CASE WHEN n_hit * 5 >= n_sh AND n_sh > 0 THEN 1 ELSE 0 END)
         |    ::BIGINT AS n_flagged,
         |  round(sum(n_hit)::DOUBLE / sum(n_sh), 6) AS overlap_rate
         |FROM j GROUP BY 1""".stripMargin
    },

    "d31_host_filter" ->
      s"""WITH u AS (
         |  SELECT doc_id, n_chars,
         |    'https://' ||
         |      CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE 'www.' END ||
         |      'site' || (doc_id % 23)::VARCHAR ||
         |      '.com/page/' || (doc_id % 13)::VARCHAR AS url
         |  FROM documents),
         |h AS (
         |  SELECT doc_id, n_chars,
         |    regexp_extract(lower(url),
         |      '^https://(?:www\\.)?([^/]+)', 1) AS host
         |  FROM u)
         |SELECT host, count(*)::BIGINT AS n_docs,
         |  sum(n_chars)::BIGINT AS tot_chars
         |FROM h
         |WHERE host NOT IN ('site0.com', 'site7.com', 'site13.com')
         |GROUP BY 1""".stripMargin,

    "d32_dup_weights" ->
      s"""$lshComponentsCteSql
         |SELECT id AS doc_id, component,
         |  count(*) OVER (PARTITION BY component)::BIGINT AS n_copies,
         |  1.0 / count(*) OVER (PARTITION BY component) AS weight
         |FROM comp""".stripMargin,

    "x34_skew_report" ->
      s"""WITH sh AS (
         |  SELECT (unnest(${shingleListSqlN("hs", 8)}))::VARCHAR AS k
         |  FROM (SELECT list_transform(${ws("text")},
         |    w -> ${OracleFragments.javaHashU32("w")}) AS hs FROM documents)),
         |shc AS (SELECT k, count(*)::BIGINT AS n FROM sh GROUP BY 1),
         |sht AS (SELECT sum(n) AS tot FROM shc),
         |shtop AS (
         |  SELECT k, n FROM shc ORDER BY n DESC, k LIMIT 3),
         |bg AS (
         |  SELECT unnest(list_slice(tk, 1, len(tk) - 1)) AS k
         |  FROM (SELECT ${ws("text")} AS tk FROM documents)
         |  WHERE len(tk) >= 2),
         |bgc AS (SELECT k, count(*)::BIGINT AS n FROM bg GROUP BY 1),
         |bgt AS (SELECT sum(n) AS tot FROM bgc),
         |bgtop AS (
         |  SELECT k, n FROM bgc ORDER BY n DESC, k LIMIT 3)
         |SELECT 'shingle8' AS family, k, n,
         |  round(n::DOUBLE / tot::DOUBLE, 6) AS share FROM shtop, sht
         |UNION ALL
         |SELECT 'bigram_w1', k, n, round(n::DOUBLE / tot::DOUBLE, 6)
         |FROM bgtop, bgt""".stripMargin,

    "d35_dedup_audit" ->
      s"""$lshComponentsCteSql,
         |q AS (${TextAnalytics.qualitySubSql}),
         |sz AS (
         |  SELECT component, count(*)::BIGINT AS n_copies
         |  FROM comp GROUP BY 1),
         |k AS (
         |  SELECT component, doc_id AS keeper FROM (
         |    SELECT c.component, q.doc_id,
         |      row_number() OVER (PARTITION BY c.component
         |        ORDER BY q.quality DESC, q.doc_id) AS r
         |    FROM comp c JOIN q ON c.id = q.doc_id)
         |  WHERE r = 1)
         |SELECT c.id AS doc_id, c.component, sz.n_copies, k.keeper,
         |  CASE WHEN c.id = k.keeper THEN 1::BIGINT ELSE 0::BIGINT END
         |    AS kept
         |FROM comp c
         |JOIN sz USING (component)
         |JOIN k USING (component)""".stripMargin,

    // incremental == full rebuild, per-row: the oracle IS the d26
    // full-graph component query
    "d34_incremental_components" ->
      s"""$lshComponentsCteSql
         |SELECT id AS doc_id, component FROM comp""".stripMargin,

    "d33_effective_tokens" ->
      s"""$lshComponentsCteSql,
         |w AS (
         |  SELECT id AS doc_id,
         |    CAST(1.0 AS DOUBLE) / count(*) OVER (PARTITION BY component)
         |      AS weight
         |  FROM comp),
         |t AS (
         |  SELECT doc_id, source, len(${ws("text")})::BIGINT AS n_tok
         |  FROM documents)
         |SELECT source, count(*)::BIGINT AS n_docs,
         |  sum(n_tok)::BIGINT AS raw_tokens,
         |  round(CAST(sum(CAST(round(weight * n_tok, 9)
         |    AS DECIMAL(28,12))) AS DOUBLE), 6) AS eff_tokens,
         |  round(CAST(sum(CAST(round(weight * n_tok, 9)
         |    AS DECIMAL(28,12))) AS DOUBLE) / sum(n_tok)::DOUBLE, 6)
         |    AS dedup_ratio
         |FROM t JOIN w USING (doc_id)
         |GROUP BY 1""".stripMargin,
  )
}
