package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Engine half of the CC family's 100× attestation (round 19, r18
  * verdict item 2): components are NOT closed under corpus slicing, so
  * the slice-proof convention that certified d4/d5/x19 at 100× cannot
  * carry d7/d26/d34. But the VERIFIED PAIR frames those components
  * close over ARE independently replayable (rep-collapsed DuckDB SQL —
  * see `Dedup.ccReplaySql`), and the transitive closure itself is
  * trivial outside the engine: a ~30-line union-find.
  *
  * This main dumps, for one fixture dir:
  *   - `pairs_exact`  — the Jaccard≥0.5 doc-pair edge set (d7/d10's
  *     component edges, doc-level)
  *   - `pairs_lsh`    — the banded-candidate, exact-Jaccard-verified
  *     doc-pair edge set (d26/d27/d34/d35's component edges)
  *   - `comp_exact` / `comp_lsh` — the engine's pinned (id, component)
  *     label frames behind d7/d21 and d26/d27/d32/d33/d35
  *   - every pair-quadratic / CC-recursive REGISTRY output (the 23
  *     oracles the 20× gate used to carry, d19 included), dumped under
  *     its registry name — d34's frame doubles as the incremental-CC
  *     check (incremental must equal a full rebuild, i.e. the
  *     union-find over `pairs_lsh`)
  *   - `cc_oracle_sql.json` — the DuckDB replay SQL for both pair
  *     frames.
  * `tools/cc_check.py` then (1) replays both pair frames in DuckDB
  * from the raw corpus (both EXCEPT directions zero), (2) union-finds
  * the dumped pairs in pure Python and compares the min-id component
  * labels and size histograms against every engine frame above.
  *
  * Usage: runMain graft.tools.CCAttestation <sfDir> <outDir>
  */
object CCAttestation {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val spark = graft.core.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt, "graft-ccattest")

    import graft.queries.Dedup
    def dump(name: String, df: DataFrame): Unit = {
      val t0 = System.nanoTime()
      // repartition(1), not coalesce(1): the round-18 Verify lesson —
      // coalesce folds the whole upstream compute into the writer task
      df.repartition(1).write.mode("overwrite").parquet(s"$outDir/$name")
      val n = spark.read.parquet(s"$outDir/$name").count()
      println(f"CCATTEST $name rows=$n%d sec=${(System.nanoTime() - t0) / 1e9}%.1f")
    }

    dump("pairs_exact", Dedup.sharedJaccardPairs(spark, sfDir, 0.5)
      .select(col("doc_i"), col("doc_j")))
    dump("pairs_lsh", Dedup.lshVerifiedPairs(spark, sfDir)
      .select(col("src").as("doc_i"), col("dst").as("doc_j")))
    // full registry outputs whose oracles are pair-quadratic or
    // CC-recursive at doc level but affordable rep-level (round 19
    // extension): the pair family (d2/d3/d11/d16 — rep-collapsed
    // pair-gen) and the component family (d7/d10/d21/d26/d27/d32/d33/
    // d34/d35 — the certified oracle SQL with its recursive comp
    // prologue swapped for the contracted one, downstream verbatim).
    // All thirteen move from "carried by the 20x gate" to DIRECT
    // DuckDB parity at 100x.
    for (q <- Seq("d2_jaccard_pairs", "d3_lsh_pairs", "d11_lsh_verify",
        "d16_containment", "d7_dup_components", "d10_best_keeper",
        "d21_leakage_split", "d26_lsh_dedup_components", "d27_lsh_keeper",
        "d32_dup_weights", "d33_effective_tokens",
        "d34_incremental_components", "d35_dedup_audit",
        "d6_dedup_corpus", "d13_chunk_dedup", "d14_lsh_recall",
        "d17_edit_verify", "d18_incremental_dedup", "d20_dup_pagerank",
        "d23_source_overlap", "d25_substring_spans",
        "d28_substring_excision", "d19_semantic_dedup"))
      dump(q, graft.SparkEntry.queries(q)(spark, sfDir))
    // the pinned label frames, for the union-find's second (non-SQL)
    // reproduction path
    dump("comp_exact", Dedup.dupComponents(spark, sfDir))
    dump("comp_lsh", Dedup.lshDupComponents(spark, sfDir))

    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, "cc_oracle_sql.json"),
      (Dedup.ccReplaySql ++ graft.queries.Similarity.ccReplaySql)
        .map { case (k, v) => s"${graft.Verify.q(k)}: ${graft.Verify.q(v)}" }
        .mkString("{", ",", "}"))
    spark.stop()
  }
}
