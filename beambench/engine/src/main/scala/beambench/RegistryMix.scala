package beambench

import com.fasterxml.jackson.databind.node.ObjectNode
import graft.SparkEntry
import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col

/** registry-mix: a fixed list of `SparkEntry.queries` entries over the
  * read-only TPC-H-ish tables. Every op is fully materialized by Spark's
  * `noop` sink, never `count()`. Pins are evicted at the start of every
  * pass, so each pass both builds and reads them.
  */
object RegistryMix extends Workload {

  /** Drops every session pin, so the next pass rebuilds them. */
  def evictPins(spark: SparkSession): Unit = {
    graft.queries.Dedup.evictCaches(spark)
    graft.queries.Similarity.evictCaches(spark)
    graft.queries.TextAnalytics.evictCaches(spark)
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The tables a query reads, from its analyzed plan (pins not yet
    * substituted, so the answer never depends on which pins exist).
    */
  def inputTables(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collectWithSubqueries {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation =>
          h.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
        case _ => Nil
      }
    }.flatten.distinct.sorted

  /** Warm-up on the small table set. Each query's result is written as
    * parquet for the DuckDB oracle check, so the warm-up pass is also the
    * correctness pass over every query.
    */
  def warmUp(ctx: Main.Ctx): Unit = {
    val warm = ctx.str("warm_sf")
    val inputs = ctx.out.putObject("inputs")
    val oracle = ctx.out.putObject("oracle_sql")
    val errors = ctx.out.putObject("check_errors")
    for (q <- ctx.strings("queries")) Main.logged(s"warm-up $q") {
      try {
        val df = SparkEntry.queries(q)(ctx.spark, warm)
        val t = inputs.putArray(q)
        inputTables(df).foreach(t.add)
        df.write.mode("overwrite").parquet(s"${ctx.str("check_dir")}/warm/$q")
      } catch { case e: Throwable => errors.put(q, Main.describe(e)) }
      SparkEntry.oracleSql.get(q).foreach(oracle.put(q, _))
    }
    evictPins(ctx.spark)
  }

  def timed(ctx: Main.Ctx): Unit = {
    val sf = ctx.str("sf")
    for (pass <- 0 until ctx.int("passes")) {
      evictPins(ctx.spark)
      for (q <- ctx.strings("queries")) ctx.op(q, q.take(1), pass) {
        val df = SparkEntry.queries(q)(ctx.spark, sf)
        ctx.trace.foreach(_.expectPlan(df))
        noop(df)
      }
      ctx.trace.foreach(_.samplePins())
    }
  }

  override def probes(ctx: Main.Ctx, layers: ObjectNode): Unit =
    Probes.kernels(Tables.documents(ctx.spark, ctx.str("sf"))
      .select(col("text")), layers)
}

/** The whole-result guard's self-test (`run.py --self-test`): for every
  * registry-mix query on a small table set, the `noop` action's executed
  * plan must hold every operator kind of the query's own plan; and the
  * guard must trip on `count()` for a query whose window Catalyst prunes.
  */
object GuardSelfTest extends Workload {
  def warmUp(ctx: Main.Ctx): Unit = ()

  def timed(ctx: Main.Ctx): Unit = {
    val trace = ctx.trace.getOrElse(new Trace(ctx.spark))
    val dir = ctx.str("warm_sf")
    val res = ctx.out.putObject("guard")
    for (q <- ctx.strings("queries")) {
      trace.beginOp()
      val df = SparkEntry.queries(q)(ctx.spark, dir)
      trace.expectPlan(df)
      RegistryMix.noop(df)
      trace.endOp(q, "guard", 0.0)
    }
    res.put("noop_failures", trace.guardFailures.mkString("; "))
    // negative control: count() lets Catalyst drop a18's window
    val neg = ctx.str("guard_negative")
    val df = SparkEntry.queries(neg)(ctx.spark, dir)
    val own = Trace.kinds(df.queryExecution.executedPlan)
    val counted = df.groupBy().count().queryExecution.executedPlan
    res.put("negative_missing", (own -- Trace.kinds(counted)).toSeq.sorted.mkString(","))
    RegistryMix.evictPins(ctx.spark)
  }
}
