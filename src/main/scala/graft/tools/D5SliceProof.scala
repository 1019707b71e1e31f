package graft.tools

import org.apache.spark.sql.functions._

/** d5_embed_neardup slice-parity dump — the D4SliceProof convention
  * applied to the exact embedding grid (round 18, for the 100× gate):
  * at 100× fixture scale the ENGINE runs the full 2·10¹⁰-cosine grid
  * fine (distributed), but the single-threaded DuckDB replay cannot
  * afford the full O(n²) form. d5's output is closed under per-vector
  * slicing (cosine is a pure pair function), so the FULL engine run
  * filtered to slice-internal pairs (vec_id % mod = 0 on both sides)
  * must equal the oracle replayed over the sliced corpus — exact set
  * equality, both EXCEPT directions (tools/d5_slice_check.py).
  *
  * Usage: runMain graft.tools.D5SliceProof <sfDir> <outDir> [mod]
  */
object D5SliceProof {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val mod = if (args.length > 2) args(2).toLong else 10L
    val spark = graft.core.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-d5-slice")
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').filter(_.nonEmpty)
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
      })
    val full = graft.SparkEntry.queries("d5_embed_neardup")(spark, sfDir)
    val t0 = System.nanoTime()
    val fullCount = full.count()
    val fullSec = (System.nanoTime() - t0) / 1e9
    // repartition(1), not coalesce(1): coalesce would fold the whole
    // grid recompute into the single writer task (the round-18 Verify
    // lesson); the shuffle keeps the cosine pass parallel
    full.filter(pmod(col("id_a"), lit(mod)) === 0 &&
        pmod(col("id_b"), lit(mod)) === 0)
      .repartition(1).write.mode("overwrite").parquet(s"$outDir/engine")
    val sliceCount = spark.read.parquet(s"$outDir/engine").count()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, "oracle_sql.json"),
      graft.Verify.oracleJson(_ == "d5_embed_neardup"))
    println(f"D5SLICE full=$fullCount%d full_sec=$fullSec%.1f " +
      s"slice=$sliceCount mod=$mod")
    spark.stop()
  }
}
