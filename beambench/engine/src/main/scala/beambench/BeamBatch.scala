package beambench

import com.fasterxml.jackson.databind.node.ObjectNode
import graft.functions.TextFunctions
import graft.io.TextIO
import graft.pipelines.ReferencePipelines
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** beam-pipelines' batch phase: the eight reference batch pipelines, each
  * reading its generated input through `TextIO`, running through
  * `ReferencePipelines` and writing its real output through `TextIO`.
  * Closed loop, one client: the next op starts when the previous one has
  * written its output.
  */
object BeamBatch extends Workload {
  val Shards = 3

  def pipeline(spark: SparkSession, name: String, in: String, out: String,
               p: Main.Ctx): Unit = {
    def lines(sub: String) = TextIO.readLines(spark, s"$in/$sub")
    def game = ReferencePipelines.parseGameEvents(lines("game"))
      .withColumnRenamed("score", "value")
    val dest = s"$out/$name"
    name match {
      case "wordcount" =>
        val wc = ReferencePipelines.wordCount(lines("corpus"))
        TextIO.writeLines(wc.select(concat_ws(": ", col("word"),
          col("n").cast("string"))).as(Encoders.STRING), dest, Shards)
      case "tfidf" =>
        TextIO.writeCsv(ReferencePipelines.tfIdf(
          TextIO.readLinesKeyedByFile(spark, s"$in/docs")), dest, Shards)
      case "autocomplete" =>
        TextIO.writeJsonl(ReferencePipelines.autoComplete(
          ReferencePipelines.wordCount(lines("corpus")),
          p.int("autocomplete_prefix"), p.int("autocomplete_k")), dest, Shards)
      case "userscore" =>
        TextIO.writeCsv(ReferencePipelines.userScore(game, "user"), dest, Shards)
      case "hourlyteamscore" =>
        TextIO.writeCsv(ReferencePipelines.hourlyTeamScore(game,
          p.str("hourly_start"), p.str("hourly_stop"), "team"), dest, Shards)
      case "trafficmaxlaneflow" =>
        TextIO.writeCsv(ReferencePipelines.maxLaneFlow(
          ReferencePipelines.parseLaneReadings(lines("traffic")),
          p.str("traffic_window"), p.str("traffic_slide")), dest, Shards)
      case "trafficroutes" =>
        TextIO.writeCsv(ReferencePipelines.routeSlowdowns(
          ReferencePipelines.parseStationSpeeds(lines("traffic")),
          p.str("traffic_window"), p.str("traffic_slide")), dest, Shards)
      case "topwikipediasessions" =>
        TextIO.writeJsonl(ReferencePipelines.topSessionsPerMonth(
          ReferencePipelines.parseWikiEdits(lines("wiki")),
          p.str("wiki_gap")), dest, Shards)
    }
  }

  /** One pass of every pipeline over the small warm-up inputs. */
  def warmUp(ctx: Main.Ctx): Unit =
    for (name <- ctx.strings("pipelines")) Main.logged(s"warm-up $name") {
      pipeline(ctx.spark, name, ctx.str("warm_inputs"), s"${ctx.str("out")}/warm", ctx)
    }

  def timed(ctx: Main.Ctx): Unit =
    for (pass <- 0 until ctx.int("passes"); name <- ctx.strings("pipelines"))
      ctx.op(name, "pipelines", pass) {
        pipeline(ctx.spark, name, ctx.str("inputs"),
          s"${ctx.str("out")}/pass-$pass", ctx)
      }

  override def probes(ctx: Main.Ctx, layers: ObjectNode): Unit = {
    val spark = ctx.spark
    val in = ctx.str("inputs")
    // io: each input read alone through TextIO, fully materialized
    val scanMs = Seq("corpus", "docs", "game", "traffic", "wiki").map { sub =>
      Probes.timeMs(TextIO.readLines(spark, s"$in/$sub").toDF())
    }.sum
    layers.put("io.scan_ms", scanMs)
    def lines(sub: String) = TextIO.readLines(spark, s"$in/$sub")
    val rejects =
      (lines("game").count() -
        ReferencePipelines.parseGameEvents(lines("game")).count()) +
      (lines("wiki").count() -
        ReferencePipelines.parseWikiEdits(lines("wiki")).count())
    layers.put("io.parse_rejects", rejects.toDouble)
    Probes.kernels(lines("corpus").toDF("text"), layers)
  }
}

/** Layer probes of the traced run: each kernel runs alone over a pinned
  * text column, materialized by the `noop` sink; the median of three runs
  * is reported.
  */
object Probes {
  def timeMs(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e6
  }

  def kernels(text: DataFrame, layers: ObjectNode): Unit = {
    val pinned = text.persist()
    pinned.count()
    def probe(c: Column): Double =
      Stats.quantile(Seq.fill(3)(timeMs(pinned.select(c))).sorted, 0.5)
    layers.put("functions.tokenize_ms",
      probe(TextFunctions.tokenize(col("text"))))
    layers.put("functions.shingles_ms", probe(expr("hashed_shingles(text, 5)")))
    layers.put("functions.minhash_ms", probe(expr("minhash_bands(text, 3, 64, 4)")))
    layers.put("functions.simhash_ms", probe(expr("simhash32(text)")))
    pinned.unpersist(blocking = true)
  }
}
