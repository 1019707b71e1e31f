package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Whole-registry 10× fixture (round-15 verdict item 2): replicates the
  * driver's sf0.1 tables `mult`× with consistent key shifting, so the
  * FULL 160-query registry — TPC-H family included, which
  * `ScaleFixture`'s own generators cannot cover — can run against the
  * DuckDB oracle and the bench at an sf1-equivalent scale.
  *
  * Replication semantics: copy i shifts every key column by
  * i × (max key + 1 of its DOMAIN) — o_custkey moves with c_custkey,
  * l_orderkey with o_orderkey, etc. — so referential integrity holds
  * within each copy and joins fan out linearly, never across copies.
  * `region`/`nation` stay fixed (dimensions don't scale with SF, the
  * TPC-H convention). Timestamps are NOT shifted: events densify the
  * same 30-day span with 10× users, the same growth direction a bigger
  * crawl gives a fixed time window (ScaleFixture's events convention).
  * Text/embedding payloads replicate VERBATIM: every document gains
  * mult-1 exact copies — a duplicate-heavy distribution (the realistic
  * web-crawl shape) that stresses the dedup/CC/LSH families with
  * mult²-scaled pair counts while the oracle replays the identical
  * derivation on the same files.
  *
  * Usage: runMain graft.tools.TenXFixture [srcDir] [outDir] [mult]
  */
object TenXFixture {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = if (args.length > 1) args(1) else "/root/repo/.scale10"
    val mult = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.GraftSession.local(cpus, "graft-tenx")

    def tbl(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")

    // one base per key DOMAIN, from the domain's owning table
    def base(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    val custB = base(tbl("customer"), "c_custkey")
    val suppB = base(tbl("supplier"), "s_suppkey")
    val partB = base(tbl("part"), "p_partkey")
    val ordB = base(tbl("orders"), "o_orderkey")
    val evB = base(tbl("events"), "event_id")
    val userB = base(tbl("events"), "user_id")
    val docB = base(tbl("documents"), "doc_id")
    val vecB = base(tbl("embeddings"), "vec_id")

    def write(name: String, df: DataFrame): Unit = {
      df.repartition(cpus).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
      println(s"[10x] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    def replicate(name: String, shifts: (String, Long)*): Unit = {
      val df = tbl(name)
      val copies = (0 until mult).map { i =>
        shifts.foldLeft(df) { case (d, (c, b)) =>
          d.withColumn(c, col(c) + lit(i * b))
        }
      }.reduce(_ unionAll _)
      write(name, copies)
    }

    // dimensions: fixed cardinality at any SF
    write("region", tbl("region"))
    write("nation", tbl("nation"))
    replicate("customer", "c_custkey" -> custB)
    replicate("supplier", "s_suppkey" -> suppB)
    replicate("part", "p_partkey" -> partB)
    replicate("orders", "o_orderkey" -> ordB, "o_custkey" -> custB)
    replicate("lineitem", "l_orderkey" -> ordB, "l_partkey" -> partB,
      "l_suppkey" -> suppB)
    replicate("events", "event_id" -> evB, "user_id" -> userB)
    replicate("documents", "doc_id" -> docB)
    replicate("embeddings", "vec_id" -> vecB)
    spark.stop()
  }
}
