package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Distributed connected components — the transitive-closure step real
  * dedup needs (near-dup pairs form cliques/chains; one-pass keep rules
  * miss transitivity). [[runStar]] runs the alternating
  * large-star/small-star algorithm (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14): edge rewiring halves
  * star depth every round, so rounds = O(log n) instead of the
  * O(diameter) of label propagation — the planet-scale shape. Labels are
  * (id, component = min reachable id): iteration-order independent, so
  * results are deterministic and oracle-reproducible (DuckDB recursive
  * CTE); OperatorsSpec checks them against a plain JVM union-find.
  *
  * Scale contract: each round is 2 aggs + 2 joins keyed on node id;
  * per-round checkpointing breaks lineage so plans stay flat across
  * rounds (the rewired edge set doubles the plan per round otherwise —
  * truncation is required, not an optimization). The loop runs to
  * FIXPOINT by default (a silently-unconverged result would be wrong,
  * not slow) — `maxIter` is an explicit opt-in cap that THROWS when
  * exceeded.
  *
  * Fault tolerance: truncated lineage means the result can only be
  * recomputed back to the last round's checkpoint. With the default
  * `localCheckpoint` those blocks are non-replicated executor storage —
  * fine single-node, unrecoverable after executor loss on a cluster. A
  * deployment sets `SparkContext.setCheckpointDir` (HDFS/S3) and every
  * round switches to a RELIABLE round file automatically (one parquet
  * write per round — the write is the materializing action, so rounds
  * are never computed twice): the round files survive any executor, so
  * the persisted component pins (Dedup.dupComponents and friends)
  * recompute instead of failing (PinRecoverySpec proves it). Superseded
  * rounds delete as soon as their successor is written; exactly one
  * final-round directory per CC run remains (the pins' recompute path),
  * owned by the deployment's checkpoint-dir lifecycle.
  */
object ConnectedComponents {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Per-round lineage truncation + round-file lifecycle. Reliable mode
    * (context has a checkpoint dir — the production switch): each round
    * is ONE parquet write job to `<ckDir>/graft-cc-<uuid>/round-<i>`
    * followed by a file-backed read — the write IS the materializing
    * action (round-14 ADVICE: `Dataset.checkpoint` computed every round
    * twice, once for the caller's count and once for the checkpoint-
    * write job, because the RDD was never persisted), the read
    * truncates lineage, and the files survive executor loss. Superseded
    * rounds are DELETED via [[release]] as soon as their last consumer
    * has run (same ADVICE: nothing ever cleaned the per-round dirs, so
    * a long-lived cluster session accumulated O(rounds) checkpoint
    * files per CC run) — only the FINAL round's files are kept, since
    * the persisted component pins recompute through them after block
    * loss (PinRecoverySpec). Local mode (no checkpoint dir): lazy
    * `localCheckpoint`, blocks reclaimed by the ContextCleaner on RDD
    * GC — unchanged, no per-round file I/O.
    */
  private final class RoundPins(spark: org.apache.spark.sql.SparkSession) {
    private val base: Option[String] = spark.sparkContext.getCheckpointDir
      .map(_ + "/graft-cc-" + java.util.UUID.randomUUID())
    private var round = 0
    private val pathOf =
      new java.util.IdentityHashMap[DataFrame, String]()

    def pin(df: DataFrame): DataFrame = base match {
      case Some(b) =>
        val p = s"$b/round-$round"
        round += 1
        df.write.mode("overwrite").parquet(p)
        // explicit schema: an all-empty write can leave no row groups
        // to infer from, and it pins the frame's exact nullability
        val out = spark.read.schema(df.schema).parquet(p)
        pathOf.put(out, p)
        out
      case None => df.localCheckpoint(eager = false)
    }

    /** `df`'s round is superseded — delete its files (reliable mode;
      * local-mode blocks stay on the existing GC path). Callers order
      * this AFTER the superseding round's last read of `df`.
      */
    def release(df: DataFrame): Unit =
      Option(pathOf.remove(df)).foreach(delete(_, "round file"))

    /** Remove the run's `graft-cc-<uuid>` base dir once NO round file is
      * pinned (round-21, r20 ADVICE): the driver-local finish releases
      * every round file — its labels re-enter the plan as a literal
      * frame, nothing recomputes through files — so keeping the empty
      * uuid dir would leak one directory per CC run in a long-lived
      * cluster session. No-op while any round file survives (the
      * distributed fixpoint's final round stays, and so does its dir).
      */
    def releaseBaseIfEmpty(): Unit =
      if (pathOf.isEmpty) base.foreach(delete(_, "run dir"))

    /** Error-path cleanup (round-15 ADVICE): the maxIter throw would
      * otherwise orphan every still-pinned round file — nothing consumes
      * a failed run's frames, so the whole `graft-cc-<uuid>` dir goes.
      * Reliable mode only; local-mode blocks stay on the RDD-GC path.
      */
    def releaseAll(): Unit = base.foreach { b =>
      pathOf.clear()
      delete(b, "run dir")
    }

    /** Recursive delete of `p`; a failure is logged with its cause, never
      * thrown (cleanup must not fail the run it cleans up after).
      */
    private def delete(p: String, what: String): Unit =
      try {
        val path = new org.apache.hadoop.fs.Path(p)
        path.getFileSystem(spark.sessionState.newHadoopConf())
          .delete(path, true)
      } catch { case NonFatal(e) =>
        log.warn(s"ConnectedComponents: could not delete $what $p", e)
      }
  }

    /** Large-star: process every edge from its smaller endpoint u; connect
    * each strictly-larger neighbor to m = min(N(u) ∪ {u}). One agg + one
    * join, both keyed on the node id. NO distinct here: the output feeds
    * [[smallStar]] inside the same round, whose min-aggregate is
    * duplicate-insensitive and whose own final distinct dedupes — a
    * distinct at this seam would be a third full exchange per round
    * buying nothing (round-8 profiling: the fixpoint's cost at toy SF is
    * stage count, not data volume).
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("a").as("u"), col("b").as("w"))
      .unionAll(e.select(col("b").as("u"), col("a").as("w")))
    val mins = sym.groupBy("u").agg(min("w").as("mw"))
      .select(col("u"), least(col("mw"), col("u")).as("m"))
    sym.join(mins, "u")
      .where(col("w") > col("u"))
      .select(col("w").as("a"), col("m").as("b"))
  }

  /** Small-star: orient every edge big→small, group on the big end u;
    * connect u and all its (strictly smaller) neighbors to the minimum.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val dir = e.select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("w"))
      .where(col("u") =!= col("w"))
    val mins = dir.groupBy("u").agg(min("w").as("m"))
    dir.join(mins, "u")
      .select(col("w").as("a"), col("m").as("b"))
      .unionAll(mins.select(col("u").as("a"), col("m").as("b")))
      .where(col("a") =!= col("b"))
      .distinct()
  }

  /** Default edge count for the driver-local fixpoint finish (round 20,
    * optimization guide §1.2 "the distributed algorithm" + §5 driver
    * rules): once the rewired edge frame is this small, the remaining
    * rounds are pure fixed overhead — each large/small-star round costs
    * 4 exchanges + a count job + AQE replans regardless of data volume,
    * and the closing rounds of ANY run operate on a frame of roughly
    * one edge per duplicated doc. Below the bound the loop collects the
    * edges (≤ ~3 MB at this default — bounded by the GUARD, not by the
    * corpus, the d23/j5 bounded-frame doctrine; the count that gates it
    * is computed every round anyway) and finishes with an exact
    * union-find, entering the result as a literal (id, component) frame
    * that the final node join broadcasts. Labels are bit-identical to
    * the distributed fixpoint (min reachable id — OperatorsSpec proves
    * the differential on random graphs). At 100 TB the bound never
    * fires while the graph is large: runs stay on the O(log n)
    * distributed path until the live edge frame genuinely shrinks
    * below the cap, at which point one task's worth of work is exactly
    * what remains.
    */
  val DefaultLocalEdgeMax: Long = 200000L

  /** Exact min-label union-find over a collected edge list: returns
    * (id -> component) for every id present in `edges`, component = min
    * reachable id. Roots at the minimum id by construction (union
    * attaches the larger root under the smaller), path-halving keeps it
    * near-linear.
    */
  private[graft] def unionFind(
      edges: Array[(Long, Long)]): java.util.HashMap[Long, Long] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) { // path halving
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp)
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val out = new java.util.HashMap[Long, Long]()
    edges.foreach { case (a, b) =>
      out.put(a, find(a)); out.put(b, find(b))
    }
    out
  }

  /** Alternating large-star/small-star connected components. nodes:
    * (id) one row per node; edges: (src, dst) undirected (either
    * orientation). Returns (id, component) with component = min id
    * reachable; throws IllegalStateException if `maxIter` rounds pass
    * without reaching the fixpoint. Each round shortcuts paths toward
    * the component minimum, so a diameter-d chain converges in O(log d)
    * rounds where label propagation needs d. Per round: 2 aggs + 2
    * joins keyed on node id plus one set-equality check (anti-join
    * count) for the fixpoint. Once the live edge frame has at most
    * `localEdgeMax` edges, the run finishes with the exact driver-local
    * union-find instead of paying per-round distributed overhead for a
    * frame one task could close; 0 keeps every round distributed.
    *
    * @param edgesDistinct caller-asserted contract that `edges` is
    *   already duplicate-free with src ≠ dst (true for the dedup pair
    *   frames: grouped output with doc_i < doc_j) — skips the initial
    *   normalization `distinct()`, one full edge exchange. The algorithm
    *   is correct either way (the star aggregates are duplicate-
    *   insensitive); the flag only removes a wasted shuffle.
    */
  def runStar(nodes: DataFrame, edges: DataFrame,
              maxIter: Int = Int.MaxValue,
              edgesDistinct: Boolean = false,
              localEdgeMax: Long = DefaultLocalEdgeMax): DataFrame = {
    val norm = edges
      .select(col("src").as("a"), col("dst").as("b"))
    // LAZY checkpoints throughout (local mode): the count() that every
    // round needs anyway is the materializing action, so each round is
    // ONE job (plan + pin + count) instead of an eager-checkpoint job
    // followed by a count job — at toy SF the fixpoint is
    // stage-count-bound, so halving the jobs halves the wall-clock.
    // (Reliable mode materializes via the round-file write; its count
    // is metadata-only.)
    val pins = new RoundPins(nodes.sparkSession)
    // Driver-local finish (see [[DefaultLocalEdgeMax]]): the star rounds
    // preserve connectivity (Kiveris et al. §3), so an exact union-find
    // over ANY round's live edge frame — including round 0 — yields the
    // same min-id components as running the rewiring to its fixpoint.
    // Labels enter the plan as a literal frame the node join broadcasts.
    def localFinish(edgesDf: DataFrame): DataFrame = {
      val rows = edgesDf.select(col("a"), col("b"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      pins.release(edgesDf)
      // nothing recomputes through files after the collect — drop the
      // run's now-empty base dir too (r20 ADVICE round-file lifecycle)
      pins.releaseBaseIfEmpty()
      val lblMap = unionFind(rows)
      import scala.jdk.CollectionConverters._
      val sess = nodes.sparkSession
      import sess.implicits._
      val lbl = lblMap.entrySet().asScala.toSeq
        .map(en => (en.getKey.longValue(), en.getValue.longValue()))
        .sortBy(_._1).toDF("nid", "cmp")
      nodes.join(lbl, nodes("id") === col("nid"), "left_outer")
        .select(nodes("id"),
          coalesce(col("cmp"), nodes("id")).as("component"))
    }
    // initial pin + count inside the try (round-16 review): the first
    // materialization evaluates the upstream pair-gen plan and must not
    // orphan its round file on failure
    try {
    var e = pins.pin(
      if (edgesDistinct) norm
      else norm.where(col("a") =!= col("b")).distinct())
    var eCount = e.count()
    var converged = eCount == 0
    val localOk = localEdgeMax > 0 &&
      e.schema.fields.take(2).forall(
        _.dataType == org.apache.spark.sql.types.LongType)
    if (!converged && localOk && eCount <= localEdgeMax)
      return localFinish(e)
    var iter = 0
    while (!converged) {
      if (iter >= maxIter)
        throw new IllegalStateException(
          s"ConnectedComponents.runStar: no fixpoint after $maxIter " +
            "rounds; labels would be wrong")
      // ONE lazy localCheckpoint per round, materialized by the count.
      val next = pins.pin(smallStar(largeStar(e)))
      val nextCount = next.count()
      // Both sets are distinct, so subset + equal cardinality ⇒ equal: at
      // the star fixpoint one more ls+ss round is a no-op. The (cheap)
      // count compare short-circuits the (anti-join) except to the final
      // round(s); e's count is carried over, never recomputed.
      converged = nextCount == eCount && next.except(e).isEmpty
      pins.release(e) // the except was round i-1's last read — files delete
      e = next
      eCount = nextCount
      iter += 1
      log.info(s"ConnectedComponents.runStar: round $iter done ($eCount edges)")
      if (!converged && localOk && eCount <= localEdgeMax)
        return localFinish(e)
    }
    // At the fixpoint every non-root points directly at its component
    // minimum; roots have no outgoing big→small edge and label themselves.
    val lbl = e.select(greatest(col("a"), col("b")).as("nid"),
        least(col("a"), col("b")).as("cmp"))
      .groupBy("nid").agg(min("cmp").as("cmp"))
    nodes.join(lbl, nodes("id") === lbl("nid"), "left_outer")
      .select(nodes("id"),
        coalesce(col("cmp"), nodes("id")).as("component"))
    } catch { case e: Throwable => pins.releaseAll(); throw e }
  }
}
