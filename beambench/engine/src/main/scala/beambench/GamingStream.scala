package beambench

import graft.streaming.LeaderBoard
import org.apache.spark.api.java.function.VoidFunction2
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** beam-pipelines' stream phase: one LeaderBoard deployment (both
  * branches, each its own streaming query) over a file source, for one
  * query lifetime in two parts: drain a pre-written backlog at a fixed
  * `maxFilesPerTrigger`, then follow an open-loop generator that `run.py`
  * starts on `@@ drain_done`.
  */
object GamingStream extends Workload {
  private val schema =
    StructType.fromDDL("ts_ms BIGINT, user_id STRING, team STRING, value BIGINT")

  /** What the two sinks emitted: closed team windows (append) and the
    * latest running total per user (update).
    */
  final class Sinks {
    val teams = new ConcurrentHashMap[String, java.lang.Long]()
    val users = new ConcurrentHashMap[String, java.lang.Long]()
  }

  private def sink(f: Row => Unit) = new VoidFunction2[DataFrame, java.lang.Long] {
    override def call(batch: DataFrame, id: java.lang.Long): Unit =
      batch.collect().foreach(f)
  }

  def deploy(spark: SparkSession, ctx: Main.Ctx, src: String, ckpt: String,
             maxFiles: Int, sinks: Sinks): Seq[StreamingQuery] = {
    val events = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFiles)
      .csv(src)
      .select(timestamp_millis(col("ts_ms")).as("ts"), col("user_id"),
        col("team"), col("value"))
    val teams = LeaderBoard.teamWindowTotals(events, ctx.str("window"),
        ctx.str("lateness"))
      .select(unix_millis(col("w_start")).as("w_ms"), col("team"),
        col("team_total"))
      .writeStream.outputMode("append").queryName("teams")
      .option("checkpointLocation", s"$ckpt/teams")
      .foreachBatch(sink { r =>
        sinks.teams.put(s"${r.getLong(0)}|${r.getString(1)}", r.getLong(2))
      }).start()
    val users = LeaderBoard.userRunningTotals(events)
      .writeStream.outputMode("update").queryName("users")
      .option("checkpointLocation", s"$ckpt/users")
      .foreachBatch(sink { r => sinks.users.put(r.getString(0), r.getLong(1)) })
      .start()
    Seq(teams, users)
  }

  def warmUp(ctx: Main.Ctx): Unit = finishWarmUp(startWarmUp(ctx))

  /** Starts the warm-up deployment over a few backlog files, one file per
    * trigger, so the per-trigger code runs as many times as the files allow;
    * its queries run in the background until `finishWarmUp`.
    */
  def startWarmUp(ctx: Main.Ctx): Seq[StreamingQuery] =
    deploy(ctx.spark, ctx, ctx.str("warm_src"), ctx.str("warm_ckpt"), 1, new Sinks)

  def finishWarmUp(qs: Seq[StreamingQuery]): Unit = {
    qs.foreach(_.processAllAvailable())
    qs.foreach(_.stop())
  }

  private var sinks: Sinks = _
  private var queries: Seq[StreamingQuery] = Nil

  def timed(ctx: Main.Ctx): Unit = {
    sinks = new Sinks
    System.gc() // the stream starts from the same heap whatever the batch left
    val cpu0 = Main.processCpuNs()
    val t0 = System.nanoTime()
    queries = deploy(ctx.spark, ctx, ctx.str("src"), ctx.str("ckpt"),
      ctx.int("max_files_per_trigger"), sinks)
    queries.foreach(_.processAllAvailable())
    ctx.out.put("drain_s", (System.nanoTime() - t0) / 1e9)
    val cpu1 = Main.processCpuNs()
    ctx.out.put("drain_cpu_s", (cpu1 - cpu0) / 1e9)
    Main.marker("drain_done")
    scala.io.StdIn.readLine() // returns once the generator has finished
    queries.foreach(_.processAllAvailable())
    // the watermark advances in a no-data batch after the last data batch
    val teams = queries.head
    val expected = ctx.params.get("final_watermark_ms").asLong
    val deadline = System.nanoTime() + 15e9.toLong
    while (watermarkMs(teams) < expected && System.nanoTime() < deadline)
      Thread.sleep(20)
    queries.foreach(_.processAllAvailable())
    queries.foreach(_.stop())
    ctx.out.put("loop_cpu_s", (Main.processCpuNs() - cpu1) / 1e9)
  }

  private def watermarkMs(q: StreamingQuery): Long =
    Option(q.lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
      .map(s => java.time.Instant.parse(s).toEpochMilli).getOrElse(Long.MinValue)

  /** Writes the sinks' final state and the progress the checks need. */
  override def afterWindow(ctx: Main.Ctx): Unit = {
    val out = ctx.out.putObject("stream")
    val teams = out.putObject("teams")
    sinks.teams.asScala.foreach { case (k, v) => teams.put(k, v.longValue) }
    val users = out.putObject("users")
    sinks.users.asScala.foreach { case (k, v) => users.put(k, v.longValue) }
    val progress = queries.flatMap(_.recentProgress)
    out.put("dropped_late", progress.flatMap(_.stateOperators)
      .map(_.numRowsDroppedByWatermark).sum)
    out.put("final_watermark_ms", watermarkMs(queries.head))
  }
}
