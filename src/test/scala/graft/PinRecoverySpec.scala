package graft

import org.apache.spark.sql.functions._

/** The round-14 pin fault-tolerance contract: every session-pinned
  * frame is `persist(MEMORY_AND_DISK)`, NOT `localCheckpoint`.
  * localCheckpoint truncates lineage and stores non-replicated executor
  * blocks — losing an executor makes the pin UNRECOVERABLE and fails
  * every downstream consumer (the Mains.scala round-13 ADVICE fix, now
  * applied to the query-family pins). persist keeps lineage, so a lost
  * block recomputes transparently.
  *
  * Block loss is simulated by unpersisting every cached RDD in the
  * context — the blocks vanish exactly as they would with a dead
  * executor — and the pins must then RE-EVALUATE CORRECTLY (recompute,
  * not fail). A localCheckpoint pin under the same treatment throws
  * `SparkException: Checkpoint block rdd_N_M not found`, which the
  * last test proves so this spec fails loudly if the doctrine regresses.
  */
class PinRecoverySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def dropAllCachedBlocks(): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))

  test("posting/pair/assignment pins recompute after cached-block loss") {
    graft.core.Pins.evict(spark)

    // materialize one pin per family through its public consumer
    val postings = SparkEntry.queries("x14_unigram_logprob")(spark, dir)
    val pairs = SparkEntry.queries("d2_jaccard_pairs")(spark, dir)
    val assign = SparkEntry.queries("v6_kmeans")(spark, dir)
    val expected = Seq(postings, pairs, assign).map(df =>
      (df.count(), df.agg(sum(hash(df.columns.map(col): _*))).head().get(0)))

    dropAllCachedBlocks() // the executor died; its blocks are gone

    // recompute, not fail — and bit-identical results
    val after = Seq(postings, pairs, assign).map(df =>
      (df.count(), df.agg(sum(hash(df.columns.map(col): _*))).head().get(0)))
    assert(after === expected,
      "pins must recompute through lineage after block loss")

    graft.core.Pins.evict(spark)
  }

  test("evictCaches releases the persisted blocks (Dataset.unpersist, not .rdd)") {
    // round-13 ADVICE: `.rdd.unpersist` released a DERIVED RDD and
    // leaked the pinned blocks until session end. Dataset.storageLevel
    // is the public witness: persisted while pinned, NONE after evict.
    import org.apache.spark.storage.StorageLevel
    import graft.core.Pins
    import graft.queries.{Dedup, Similarity, TextAnalytics}
    import spark.implicits._
    def pinned(df: org.apache.spark.sql.DataFrame) =
      df.storageLevel != StorageLevel.NONE
    TextAnalytics.evictCaches(spark)
    val docs = graft.core.Tables.documents(spark, dir)
    val pin = TextAnalytics.sharedPostings(docs)
    val stats = TextAnalytics.sharedTermStats(docs)._1
    pin.count(); stats.count()
    assert(pinned(pin), "pin must be persisted")
    assert(pinned(stats), "stats must be persisted")
    TextAnalytics.evictCaches(spark)
    assert(!pinned(pin), "eviction must release the posting pin's blocks")
    assert(!pinned(stats), "eviction must release the term-stats pin's blocks")

    // evict(s, Some(d)): d's pins and the digest-keyed pins go; another
    // dir's and another session's stay
    val otherDir = new java.io.File(dir).getParent + "/sf0.01"
    val other = spark.newSession()
    val dirPin = Dedup.sharedSimhashGroupPairs(spark, dir)
    val otherDirPin = Dedup.sharedSimhashGroupPairs(spark, otherDir)
    val otherSessionPin =
      Pins.frame("pin_recovery_probe", other, Some(dir))(other.range(7).toDF("id"))
    val corpus = graft.core.Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding")
    Similarity.semanticDedupFrame(corpus, 3, 0.9).count()
    TextAnalytics.bpeMerges(docs, 2)
    val digestPins = Map(
      "posting" -> TextAnalytics.sharedPostings(docs),
      "term-stats" -> TextAnalytics.sharedTermStats(docs)._1,
      "BPE corpus" -> TextAnalytics.bpeCorpus(docs),
      "k-means assignment" -> Similarity.pinnedAssign(corpus, 3),
      "d5 block" -> Similarity.embedBlocks(corpus, 2))
    (digestPins.values ++ Seq(dirPin, otherDirPin)).foreach(_.count())
    digestPins.foreach { case (name, df) => assert(pinned(df), s"$name pin") }
    // value pins: pinned, so a changed input is not seen until eviction
    val tag = "pin-recovery-" + java.util.UUID.randomUUID()
    val hot = Seq(1, 1, 1, 2).toDF("k")
    val flat = Seq(1, 2, 3, 4).toDF("k")
    assert(TextAnalytics.hotKeyShare(spark, tag, hot) == 0.75)
    assert(TextAnalytics.hotKeyShare(spark, tag, flat) == 0.75)
    assert(TextAnalytics.headRows(docs, 2L, spark.range(3).toDF()) == 3L)
    assert(TextAnalytics.headRows(docs, 2L, spark.range(5).toDF()) == 3L)

    Pins.evict(spark, Some(dir))
    assert(!pinned(dirPin), "the dir's own pin must be released")
    digestPins.foreach { case (name, df) =>
      assert(!pinned(df), s"the dir-less $name pin must be released")
    }
    assert(pinned(otherDirPin), "another dir's pin must stay")
    assert(Dedup.sharedSimhashGroupPairs(spark, otherDir) eq otherDirPin)
    assert(pinned(otherSessionPin), "another session's pin must stay")
    assert(TextAnalytics.hotKeyShare(spark, tag, flat) == 0.25,
      "the skew probe must recompute after eviction")
    assert(TextAnalytics.headRows(docs, 2L, spark.range(5).toDF()) == 5L,
      "the x16 head count must recompute after eviction")

    Pins.evict(spark)
    assert(!pinned(otherDirPin), "evict(s) must release every dir's pins")
    Pins.evict(other)
    assert(!pinned(otherSessionPin))
  }

  test("pin build plans: one corpus scan into the doc_id-partitioned agg; " +
      "stats fold FROM the pin") {
    // consumers no longer show the build plan (PlanWalk stops at the
    // cached scan), so assert it at the build site: the posting pin is
    // ONE parquet scan → (doc, term) hash agg → repartition(doc_id);
    // the term-stats pin folds from the POSTING pin (a cached scan),
    // never from parquet.
    graft.queries.TextAnalytics.evictCaches(spark)
    val docs = graft.core.Tables.documents(spark, dir)
    val pinPlan = graft.queries.TextAnalytics.sharedPostings(docs)
      .queryExecution.executedPlan.toString
    assert("FileScan parquet".r.findAllIn(pinPlan).size == 1,
      s"the posting pin build must scan the corpus once:\n$pinPlan")
    assert(pinPlan.contains("partial_count"),
      s"the (doc, term) agg must combine map-side:\n$pinPlan")
    assert(pinPlan.contains("REPARTITION_BY_COL"),
      s"the pin must be doc_id-partitioned for its per-doc consumers:\n$pinPlan")
    val statsPlan = graft.core.PlanWalk.outer(
      graft.queries.TextAnalytics.sharedTermStats(docs)._1)
    assert(!statsPlan.contains("FileScan"),
      s"term stats must fold from the pin, not re-scan parquet:\n$statsPlan")
    graft.queries.TextAnalytics.evictCaches(spark)
  }

  test("CC-rooted pins survive block loss under a RELIABLE checkpoint dir") {
    // The component pins persist their RESULT, but recomputing it walks
    // lineage into ConnectedComponents' per-round checkpoints (lineage
    // truncation there is required — the rewired edge plan doubles per
    // round). With the default localCheckpoint those rounds are
    // executor-local blocks, so a cluster deployment sets
    // SparkContext.setCheckpointDir and CC switches to RELIABLE
    // checkpoints automatically — round files survive any executor.
    // The checkpoint dir is CONTEXT state — restore it in a finally so
    // later CC runs in the suite keep the default localCheckpoint path
    // (round-14 ADVICE: leaving it set silently switched every
    // subsequent spec to reliable round files writing into a temp dir
    // nobody deleted — ordering-dependent suite behavior). In local
    // mode `setCheckpointDir(null)` unsets (Option(null) → None).
    val ckDir = java.nio.file.Files
      .createTempDirectory("graft-cc-ck")
    try {
      spark.sparkContext.setCheckpointDir(ckDir.toString)
      graft.queries.Dedup.evictCaches(spark)
      val comp = SparkEntry.queries("d7_dup_components")(spark, dir)
      val before = comp.collect().sortBy(_.toString).mkString("|")
      dropAllCachedBlocks()
      val after = comp.collect().sortBy(_.toString).mkString("|")
      assert(after === before,
        "the pinned component frame must recompute through the reliable " +
          "checkpoint after block loss")
      graft.queries.Dedup.evictCaches(spark)
    } finally {
      spark.sparkContext.setCheckpointDir(null)
      // temp round files: nothing references them once the pins evict
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(ckDir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("reliable CC keeps ONLY the final round's files (superseded " +
      "rounds delete)") {
    // round-14 ADVICE: nothing ever deleted superseded per-round
    // checkpoint dirs, so a long-lived cluster session accumulated
    // O(rounds) files per CC run. Now each superseded round deletes as
    // soon as its successor is written; a multi-round fixpoint must end
    // with exactly ONE round-* directory per RoundPins (runStar: the
    // final edge set; the chain below needs ≥3 star rounds).
    import spark.implicits._
    val ckDir = java.nio.file.Files.createTempDirectory("graft-cc-gc")
    try {
      spark.sparkContext.setCheckpointDir(ckDir.toString)
      val n = 64
      val nodes = spark.range(0, n).select($"id")
      val edges = spark.range(0, n - 1)
        .select($"id".as("src"), ($"id" + 1).as("dst"))
      import scala.jdk.CollectionConverters._
      def roundDirs() = java.nio.file.Files.walk(ckDir).iterator().asScala
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("round-")).toSeq
      // force the DISTRIBUTED fixpoint (round 20): under the default
      // cap the driver-local finish closes this 63-edge chain at round
      // 0 and releases every round file — asserted separately below
      spark.conf.set("spark.graft.cc.localEdgeMax", "0")
      val labels =
        try graft.operators.ConnectedComponents
          .runStar(nodes, edges, edgesDistinct = true)
        finally spark.conf.unset("spark.graft.cc.localEdgeMax")
      assert(labels.agg(max($"component")).head().getLong(0) == 0L,
        "one chain component labeled by its min id")
      assert(roundDirs().size == 1,
        s"superseded round files must delete; found: ${roundDirs()}")
      // the local finish's labels are a self-contained literal frame —
      // it must release ALL round files, its own included
      java.nio.file.Files.walk(ckDir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount).filter(_ != ckDir)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      val local = graft.operators.ConnectedComponents
        .runStar(nodes, edges, edgesDistinct = true)
      assert(local.agg(max($"component")).head().getLong(0) == 0L,
        "local finish labels the chain by its min id")
      assert(roundDirs().isEmpty,
        s"the local finish must release every round file; found: ${roundDirs()}")
      // round 21 (r20 ADVICE): the local finish must also remove the
      // run's now-empty graft-cc-<uuid> base dir — a long-lived cluster
      // session otherwise leaks one empty dir per CC run
      val baseDirs = java.nio.file.Files.walk(ckDir).iterator().asScala
        .filter(p => p != ckDir && java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("graft-cc-")).toSeq
      assert(baseDirs.isEmpty,
        s"the local finish must remove the empty run dir; found: $baseDirs")
    } finally {
      spark.sparkContext.setCheckpointDir(null)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(ckDir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("control: a localCheckpoint pin does NOT survive block loss") {
    // proves the simulation is real — if this starts passing, the
    // block-drop above stopped dropping anything and the first test
    // proves nothing
    import spark.implicits._
    val ck = spark.range(0, 1000).select($"id", ($"id" * 2).as("v"))
      .localCheckpoint(eager = true)
    assert(ck.count() == 1000)
    dropAllCachedBlocks()
    val failed =
      try { ck.count(); false }
      catch { case _: Throwable => true }
    assert(failed,
      "localCheckpoint must be unrecoverable once its blocks are lost " +
        "(lineage truncated) — the reason the pins moved to persist()")
  }

  // the exact-dedup pin-sharing family: d2 builds the Jaccard-pair pin
  // the others consume; in REVERSED order d7 fronts the build instead
  private val family = Seq("d2_jaccard_pairs", "d6_dedup_corpus",
    "d10_best_keeper", "d7_dup_components")

  /** Evicts every pin, then runs `order`: total seconds with each
    * query's whole result written to `noop`, and each query's row count
    * (taken outside the timed window).
    */
  private def runPass(order: Seq[String]): (Double, Map[String, Long]) = {
    graft.core.Pins.evict(spark)
    var total = 0.0
    val rows = order.map { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      total += (System.nanoTime() - t0) / 1e9
      q -> df.count()
    }.toMap
    (total, rows)
  }

  test("amortized family total is suite-order invariant within noise") {
    // The per-query times embed shared-pin amortization by order
    // (whichever query runs first fronts the Jaccard-pair pin for the
    // rest), but the family TOTAL must not: one pin build + N consumers
    // whichever query fronts the build. Results must be identical row
    // for row in both orders (determinism under eviction).
    // Warm the JVM/codegen on the family once so neither pass pays
    // first-ever-compile cost.
    runPass(family)
    val (fwd, rowsFwd) = runPass(family)
    val (rev, rowsRev) = runPass(family.reverse)
    assert(rowsFwd == rowsRev,
      s"row counts changed with suite order: $rowsFwd vs $rowsRev")
    val ratio = math.max(fwd, rev) / math.min(fwd, rev)
    // noise bar 2.5; on a contended host (load1 per HOST core >= 0.5)
    // timing assertions are meaningless — report, don't fail. The host
    // core count comes from /proc/cpuinfo: loadavg is host-wide, while
    // availableProcessors() is cgroup-scoped and would undercount the
    // cores the load is measured over.
    val load1 = scala.io.Source.fromFile("/proc/loadavg").mkString
      .split(" ").head.toDouble
    val hostCpus = scala.util.Try(java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("/proc/cpuinfo")).stream()
      .filter(_.startsWith("processor")).count().toInt).toOption
      .filter(_ > 0).getOrElse(Runtime.getRuntime.availableProcessors())
    val loaded = load1 / hostCpus >= 0.5
    info(f"forward $fwd%.2fs reversed $rev%.2fs ratio $ratio%.2f " +
      f"(load1 $load1%.1f/$hostCpus cpus, contended=$loaded)")
    if (!loaded)
      assert(ratio < 2.5,
        f"suite-order changed the amortized family total $ratio%.2fx " +
          f"(fwd $fwd%.2fs vs rev $rev%.2fs) — amortization is not " +
          "order-invariant")
  }
}
