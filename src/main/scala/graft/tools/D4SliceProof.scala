package graft.tools

import org.apache.spark.sql.functions._

/** d4_simhash_pairs slice-parity dump — the engine half of the r15
  * slice-parity convention (SCALE.md): at 10×/20× fixture scale the
  * ENGINE materializes the full doc-pair expansion fine (distributed),
  * but the single-threaded DuckDB replay over ~10⁹ band candidates is
  * the binding cost. So the oracle compare runs on the deterministic
  * `doc_id % mod = 0` slice: the pipeline is closed under per-doc
  * derivation (simhash is a pure function of the doc), so the FULL
  * run's output filtered to slice-internal pairs must equal the oracle
  * replayed over the sliced corpus — exact set equality, both EXCEPT
  * directions (tools/d4_slice_check.py).
  *
  * This main runs the FULL query (guard + expansion at full corpus
  * size — the count printed is the full output volume), then writes
  * only the slice-internal rows for the DuckDB compare.
  *
  * Usage: runMain graft.tools.D4SliceProof <sfDir> <outDir> [mod]
  */
object D4SliceProof {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val mod = if (args.length > 2) args(2).toLong else 10L
    val spark = graft.core.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt, "graft-d4-slice")
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').filter(_.nonEmpty)
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
      })
    val full = graft.SparkEntry.queries("d4_simhash_pairs")(spark, sfDir)
    val t0 = System.nanoTime()
    val fullCount = full.count()
    val fullSec = (System.nanoTime() - t0) / 1e9
    // repartition(1), not coalesce(1): coalesce would fold the whole
    // expansion recompute into the single writer task (the round-18
    // Verify lesson); the shuffle keeps the pair emission parallel
    full.filter(pmod(col("doc_i"), lit(mod)) === 0 &&
        pmod(col("doc_j"), lit(mod)) === 0)
      .repartition(1).write.mode("overwrite").parquet(s"$outDir/engine")
    val sliceCount = spark.read.parquet(s"$outDir/engine").count()
    // write the registry oracle SQL alongside the engine dump so
    // d4_slice_check.py's default <proofDir>/oracle_sql.json path works
    // without a separate Verify dump (round 18, r17 ADVICE: the
    // documented two-step flow failed with FileNotFoundError otherwise)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, "oracle_sql.json"),
      graft.Verify.oracleJson(_ == "d4_simhash_pairs"))
    println(f"D4SLICE full=$fullCount%d full_sec=$fullSec%.1f " +
      s"slice=$sliceCount mod=$mod")
    spark.stop()
  }
}
