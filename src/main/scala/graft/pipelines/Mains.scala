package graft.pipelines

import graft.io.{TextIO, TrainExport}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-style CLI option handling (`WordCount.scala:38-56`,
  * `UserScore.scala:53-92`): `--key=value` args, defaults, and
  * required-option validation that fails fast with a usage line — the
  * Spark-side stand-in for Beam's `PipelineOptionsFactory.fromArgs(...)
  * .withValidation()`.
  */
final case class Opts(name: String, values: Map[String, String]) {
  def apply(key: String): String = values(key)
  def int(key: String): Int = values(key).toInt
  def bool(key: String): Boolean = values(key).toBoolean
}

object Opts {
  def parse(name: String, args: Array[String],
            defaults: Map[String, String],
            required: Seq[String]): Opts = {
    val parsed = args.map { a =>
      if (!a.startsWith("--") || !a.contains('='))
        usageError(name, defaults, required, s"unrecognized argument '$a'")
      val Array(k, v) = a.drop(2).split("=", 2)
      k -> v
    }.toMap
    val unknown = parsed.keySet -- defaults.keySet -- required
    if (unknown.nonEmpty)
      usageError(name, defaults, required, s"unknown option(s) ${unknown.mkString(", ")}")
    val missing = required.filterNot(parsed.contains)
    if (missing.nonEmpty)
      usageError(name, defaults, required,
        s"missing required option(s) ${missing.map("--" + _).mkString(", ")}")
    Opts(name, defaults ++ parsed)
  }

  private def usageError(name: String, defaults: Map[String, String],
                         required: Seq[String], msg: String): Nothing = {
    val req = required.map(k => s"--$k=<value>")
    val opt = defaults.toSeq.sortBy(_._1).map { case (k, v) => s"[--$k=$v]" }
    throw new IllegalArgumentException(
      s"$msg\nusage: $name ${(req ++ opt).mkString(" ")}")
  }

  /** Every main's session: `GraftSession.local`, local by default
    * (tests, laptops), `SPARK_MASTER` overrides the master for a cluster
    * submit; shuffle parallelism sized by SPARK_GRAFT_CPUS like Verify.
    */
  def session(appName: String): SparkSession =
    graft.core.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, appName,
      master = sys.env.get("SPARK_MASTER"))
}

/** WordCount (`WordCount.scala:36-67`): text file → "word: n" lines. */
object WordCountMain {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse("WordCountMain", args, Map.empty,
      required = Seq("inputFile", "output"))
    val spark = Opts.session("graft-wordcount")
    import spark.implicits._
    val counts = ReferencePipelines.wordCount(
      TextIO.readLines(spark, o("inputFile")))
    TextIO.writeLines(
      counts.select(concat($"word", lit(": "), $"n")).as[String],
      o("output"))
  }
}

/** DebuggingWordCount (`DebuggingWordCount.scala:66-103`): wordCount
  * restricted to a regex; matched/unmatched counters printed like the
  * reference's assert-on-counters instrumentation.
  */
object DebuggingWordCountMain {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse("DebuggingWordCountMain", args,
      Map("filterPattern" -> "Flourish|stomach"),
      required = Seq("inputFile", "output"))
    val spark = Opts.session("graft-debugging-wordcount")
    import spark.implicits._
    val observed = new org.apache.spark.sql.Observation("debug_wc_cli")
    val counts = ReferencePipelines
      .wordCount(TextIO.readLines(spark, o("inputFile")))
      .observe(observed,
        sum(when($"word".rlike(o("filterPattern")), 1).otherwise(0)).as("matched"),
        sum(when($"word".rlike(o("filterPattern")), 0).otherwise(1)).as("unmatched"))
      .filter($"word".rlike(o("filterPattern")))
    TextIO.writeLines(
      counts.select(concat($"word", lit(": "), $"n")).as[String],
      o("output"))
    println(s"debug_wc matched=${observed.get("matched")} " +
      s"unmatched=${observed.get("unmatched")}")
  }
}

/** WindowedWordCount (`WindowedWordCount.scala:58-108`): lines get
  * deterministic event times spread across `numWindows` fixed windows
  * (the reference scatters with a random timestamp, `AddTimestampFn`;
  * a content-hash scatter keeps runs reproducible), then per-window word
  * counts land one directory per window (S4 sink).
  */
object WindowedWordCountMain {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse("WindowedWordCountMain", args,
      Map("windowSize" -> "10", "numWindows" -> "3",
        "baseTs" -> "2026-01-01 00:00:00"),
      required = Seq("inputFile", "output"))
    val spark = Opts.session("graft-windowed-wordcount")
    import spark.implicits._
    val windowMs = o.int("windowSize").toLong * 60000L
    val spanMs = windowMs * o.int("numWindows")
    val lines = TextIO.readLines(spark, o("inputFile"))
      .select($"value".as("line"),
        timestamp_millis(unix_millis(lit(o("baseTs")).cast("timestamp")) +
          pmod(graft.functions.HashFunctions.javaStringHashCode($"value")
            .cast("long"), lit(spanMs))).as("ts"))
    val counts = ReferencePipelines
      .windowedWordCount(lines, s"${o.int("windowSize")} minutes")
      .select(date_format($"w_start", "yyyy-MM-dd HH:mm").as("w"),
        concat($"word", lit(": "), $"n").as("value"))
    TextIO.writeWindowedText(counts, "w", o("output"))
  }
}

/** TfIdf (`TfIdf.scala:130-197,386-393`): directory of text files →
  * (uri, word, tfidf) CSV, uris keyed by source file from ONE scan.
  */
object TfIdfMain {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse("TfIdfMain", args, Map.empty,
      required = Seq("input", "output"))
    val spark = Opts.session("graft-tfidf")
    import spark.implicits._
    val docs = TextIO.readLinesKeyedByFile(spark, o("input"))
      .withColumn("uri", regexp_extract($"uri", "([^/]+)$", 1))
    TextIO.writeCsv(ReferencePipelines.tfIdf(docs), o("output"))
  }
}

/** AutoComplete batch mode (`AutoComplete.scala:221-321`): text →
  * per-prefix top-K completion lists, recursive trie evaluation by
  * default exactly like the reference's `--recursive` flag.
  */
object AutoCompleteMain {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse("AutoCompleteMain", args,
      Map("maxPrefix" -> "10", "k" -> "10", "recursive" -> "true",
        "outputToDatastore" -> "false", "kind" -> "autocomplete-demo",
        "ancestorKey" -> "root", "streaming" -> "false",
        "windowDur" -> "10 minutes", "slideDur" -> "5 minutes"),
      required = Seq("inputFile", "output"))
    val spark = Opts.session("graft-autocomplete")
    import spark.implicits._
    if (o.bool("streaming")) {
      // The reference rejects the Datastore sink in streaming mode
      // (`AutoComplete.scala:90-96` checkArgument); mirror that instead
      // of silently ignoring the flag.
      require(!o.bool("outputToDatastore"),
        "--outputToDatastore is not supported with --streaming " +
          "(the reference rejects this combination)")
      // The reference's streaming mode (`AutoComplete.scala:73-86`):
      // the same pipeline over SlidingWindows. Input lines carry the
      // Pub/Sub-style event timestamp the reference source provides:
      // `epoch_millis,text...` (the Injector file shape). Per-window
      // prefix rankings land as one directory per window (S4).
      def parsedWords(lines: DataFrame): DataFrame = lines
        .select(split($"value", ",", 2).as("f"))
        .select(
          timestamp_millis(expr("try_cast(f[0] AS BIGINT)")).as("ts"),
          explode(graft.functions.TextFunctions.tokenize(
            expr("try_element_at(f, 2)"))).as("word"))
        .filter($"ts".isNotNull)
      val maxPrefix = o.int("maxPrefix"); val k = o.int("k")
      def writeRanked(counts: DataFrame): Unit = {
        graft.streaming.StreamOps.rankWindowPrefixes(counts, maxPrefix, k)
          .select(col("w_start").cast("long").as("w_start"),
            concat_ws(",", col("prefix"), col("word"), col("n"),
              col("rank")).as("value"))
          .write.mode("append").partitionBy("w_start")
          .text(o("output"))
        ()
      }
      val words = parsedWords(spark.readStream.text(o("inputFile")))
      val counts = graft.streaming.StreamOps.windowedWordCounts(
        words, "ts", "word", o("windowDur"), o("slideDur"), "0 seconds")
      val q = counts.writeStream
        .outputMode("append")
        .option("checkpointLocation", o("output") + "_cp")
        .foreachBatch { (batch: DataFrame, _: Long) => writeRanked(batch) }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // TRAILING-WINDOW FLUSH: on a bounded one-shot input, append mode
      // only emits windows whose end the final watermark (= max event
      // time, 0s lateness) has passed — the window(s) CONTAINING the max
      // event time never close, so the run would silently drop the last
      // rankings. The Beam reference drains the watermark to +inf on
      // termination and emits everything; replicate that with ONE batch
      // pass over the same file (batch↔stream symmetry: identical window
      // expression), writing ONLY the windows the streaming query did
      // not emit (anti-join on the already-written w_start partitions —
      // robust to the exact emitted/unemitted watermark boundary).
      val written =
        scala.util.Try(spark.read.text(o("output"))
            .select(col("w_start").cast("long").as("w_start")).distinct())
          .getOrElse(spark.range(0).select(col("id").as("w_start")))
      val allCounts = graft.streaming.StreamOps.windowedWordCounts(
        parsedWords(spark.read.text(o("inputFile"))),
        "ts", "word", o("windowDur"), o("slideDur"), "0 seconds")
      writeRanked(allCounts
        .withColumn("w_start", col("w_start").cast("long"))
        .join(written, Seq("w_start"), "left_anti")
        .select(to_timestamp(col("w_start")).as("w_start"),
          col("word"), col("n")))
    } else {
      val words = ReferencePipelines.wordCount(
        TextIO.readLines(spark, o("inputFile")))
      val top = ReferencePipelines.autoComplete(
        words, o.int("maxPrefix"), o.int("k"), o.bool("recursive"))
      TextIO.writeCsv(top.select($"prefix", $"word", $"n"), o("output"))
      // S9: the reference's Datastore branch (`AutoComplete.scala:98-108`)
      // — keyed entity upserts, locally a JSON-lines entity directory
      if (o.bool("outputToDatastore"))
        graft.io.EntitySink.write(
          graft.io.EntitySink.autoCompleteEntities(top, o("kind"),
            o("ancestorKey")),
          o("output") + "_entities")
    }
  }
}

/** UserScore (`UserScore.scala:53-75,171-175`): game-event CSV → per-user
  * score totals as "user: total" text; malformed rows counted and dropped.
  */
object UserScoreMain {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse("UserScoreMain", args, Map.empty,
      required = Seq("input", "output"))
    val spark = Opts.session("graft-userscore")
    import spark.implicits._
    val events = ReferencePipelines
      .parseGameEvents(TextIO.readLines(spark, o("input")))
      .select($"user".as("user_id"), $"score".as("value"))
    TextIO.writeLines(
      ReferencePipelines.userScore(events)
        .select(concat($"user_id", lit(": "), $"total_score")).as[String],
      o("output"))
  }
}

/** HourlyTeamScore (`HourlyTeamScore.scala:59-112`): game-event CSV →
  * hourly per-team totals inside [startTs, stopTs), one CSV row per
  * (window, team) — the reference's windowed batch variant of UserScore.
  */
object HourlyTeamScoreMain {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse("HourlyTeamScoreMain", args,
      Map("startTs" -> "1970-01-01 00:00:00", "stopTs" -> "2100-01-01 00:00:00"),
      required = Seq("input", "output"))
    val spark = Opts.session("graft-hourly-team-score")
    import spark.implicits._
    val events = ReferencePipelines
      .parseGameEvents(TextIO.readLines(spark, o("input")))
      .select($"team", $"score".as("value"), $"ts")
    val hourly = ReferencePipelines
      .hourlyTeamScore(events, o("startTs"), o("stopTs"))
      .select(date_format($"w_start", "yyyy-MM-dd HH:mm").as("window_start"),
        $"team", $"total_score")
    TextIO.writeCsv(hourly, o("output"))
  }
}

/** TrafficMaxLaneFlow (`TrafficMaxLaneFlow.scala:42-133`): freeway sensor
  * CSV → per (sliding window, station) the max-flow lane reading, CSV out.
  */
object TrafficMaxLaneFlowMain {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse("TrafficMaxLaneFlowMain", args,
      Map("windowDuration" -> "60", "windowSlideEvery" -> "5"),
      required = Seq("input", "output"))
    val spark = Opts.session("graft-traffic-max-lane-flow")
    import spark.implicits._
    val readings = ReferencePipelines.parseLaneReadings(
      TextIO.readLines(spark, o("input")))
    val maxes = ReferencePipelines.maxLaneFlow(readings,
        s"${o.int("windowDuration")} minutes",
        s"${o.int("windowSlideEvery")} minutes")
      .select(date_format($"w_start", "yyyy-MM-dd HH:mm").as("window_start"),
        $"station", $"lane", $"flow",
        date_format($"reading_ts", "yyyy-MM-dd HH:mm:ss").as("reading_ts"))
    TextIO.writeCsv(maxes, o("output"))
  }
}

/** TrafficRoutes (`TrafficRoutes.scala:67-113`): freeway sensor CSV →
  * per (sliding window, route) average speed + slowdown flag, CSV out.
  */
object TrafficRoutesMain {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse("TrafficRoutesMain", args,
      Map("windowDuration" -> "3", "windowSlideEvery" -> "1"),
      required = Seq("input", "output"))
    val spark = Opts.session("graft-traffic-routes")
    import spark.implicits._
    val speeds = ReferencePipelines.parseStationSpeeds(
      TextIO.readLines(spark, o("input")))
    val stats = ReferencePipelines.routeSlowdowns(speeds,
        s"${o.int("windowDuration")} minutes",
        s"${o.int("windowSlideEvery")} minutes")
      .select(date_format($"w_start", "yyyy-MM-dd HH:mm").as("window_start"),
        $"route", round($"avg_speed", 4).as("avg_speed"), $"slowdown_event")
    TextIO.writeCsv(stats, o("output"))
  }
}

/** TopWikipediaSessions (`TopWikipediaSessions.scala:56-96`): wiki-edit
  * JSON → deterministic user sample → longest editing session per
  * calendar month, "user : len : month" text like the reference's
  * FormatOutput.
  */
object TopWikipediaSessionsMain {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse("TopWikipediaSessionsMain", args,
      Map("samplingThreshold" -> "0.1", "sessionGap" -> "1 hour"),
      required = Seq("input", "output"))
    val spark = Opts.session("graft-top-wikipedia-sessions")
    import spark.implicits._
    val edits = ReferencePipelines.sampleUsers(
      ReferencePipelines.parseWikiEdits(TextIO.readLines(spark, o("input"))),
      o("samplingThreshold").toDouble)
    val top = ReferencePipelines.topSessionsPerMonth(edits, o("sessionGap"))
      .select(concat($"user_id", lit(" : "), $"session_len", lit(" : "),
        date_format($"month", "yyyy-MM")).as("value")).as[String]
    TextIO.writeLines(top, o("output"))
  }
}

/** Shared plumbing for the streaming game mains: unbounded text source
  * over a directory (the local stand-in for the Pub/Sub topic, S8) parsed
  * with the same tolerant CSV ingestion as the batch mains, processed
  * with `Trigger.AvailableNow` (drain-what-exists, the CLI-friendly run
  * mode — swap for a continuous trigger on a live directory).
  */
private object StreamingGameSource {
  def events(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    ReferencePipelines.parseGameEvents(
        spark.readStream.text(dir).as[String])
      .select($"user".as("user_id"), $"team", $"score".as("value"), $"ts")
  }
}

/** LeaderBoard (`LeaderBoard.scala:86-133`): ONE unbounded source, TWO
  * sibling sinks — windowed team totals appended as the watermark closes
  * each window (the on-time pane, W9), and global per-user running totals
  * re-emitted per trigger (W5/W11; bounded by user cardinality, so the
  * complete-mode rewrite per batch is safe at any stream length).
  */
object LeaderBoardMain {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse("LeaderBoardMain", args,
      Map("teamWindowDuration" -> "60", "allowedLateness" -> "120"),
      required = Seq("input", "output"))
    val spark = Opts.session("graft-leaderboard")
    val events = StreamingGameSource.events(spark, o("input"))
    val teams = graft.streaming.LeaderBoard.teamWindowTotals(events,
        s"${o.int("teamWindowDuration")} minutes",
        s"${o.int("allowedLateness")} minutes")
      .writeStream.outputMode("append").format("csv")
      .option("path", o("output") + "/teams")
      .option("checkpointLocation", o("output") + "/_cp_teams")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val users = graft.streaming.LeaderBoard.userRunningTotals(events)
      .writeStream.outputMode("complete")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").csv(o("output") + "/users")
      }
      .option("checkpointLocation", o("output") + "/_cp_users")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    teams.awaitTermination()
    users.awaitTermination()
  }
}

/** GameStats (`GameStats.scala:77-135,147-175`): spam-filtered per-window
  * team scores (W16 window-aligned anti-join) + mean session duration per
  * fixed window (W6 re-windowing), via the SURVEY-documented
  * `foreachBatch` fan-out (both aggregates derive from the same window of
  * one source, so per-batch alignment is exact under AvailableNow).
  */
object GameStatsMain {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse("GameStatsMain", args,
      Map("fixedWindowDuration" -> "60", "sessionGap" -> "5",
        "userActivityWindowDuration" -> "30", "scoreWeight" -> "2.5"),
      required = Seq("input", "output"))
    val spark = Opts.session("graft-game-stats")
    val events = StreamingGameSource.events(spark, o("input"))
    val q = events.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val pinned = batch.persist()
        try {
          graft.streaming.StreamOps.spamFilteredTeamScores(pinned, "ts",
              s"${o.int("fixedWindowDuration")} minutes",
              o("scoreWeight").toDouble)
            .write.mode("append").csv(o("output") + "/teams")
          graft.streaming.StreamOps.sessionDurationMeans(pinned, "ts",
              "user_id", s"${o.int("sessionGap")} minutes",
              s"${o.int("userActivityWindowDuration")} minutes", "0 seconds")
            .write.mode("append").csv(o("output") + "/sessions")
        } finally { pinned.unpersist(); () }
      }
      .option("checkpointLocation", o("output") + "/_cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}

/** StatefulTeamScore (`StatefulTeamScore.scala:55-113`): per-team
  * cumulative score with an emission each time the total crosses a
  * multiple of the threshold (W15 ValueState), crossings appended as CSV.
  */
/** End-to-end training-data curation (beyond the reference surface —
  * the capstone composition of the engine's pipeline operators):
  * documents → quality gate → normalized exact dedup → optional
  * near-dup removal → PII scrub → quality-octile curriculum export
  * with a checksummed manifest, plus a funnel report
  * (`_funnel.json`) recording per-stage survivor counts.
  *
  * Scale shape: every stage is the already-audited operator (rowwise
  * quality gate; digest-only dedup shuffle; the shared d6 pair frame
  * for near-dups; map-only scrub; one shard-keyed export shuffle) —
  * and the funnel counts are NOT extra passes: each stage becomes a
  * flag column and the per-stage survivor counts ride the ONE
  * materialization of the flagged frame as `observe()` metrics (the
  * a16 CollectMetrics pattern), so the corpus is read once, not once
  * per funnel number; the export then reads the pinned survivors.
  */
object CuratePipelineMain {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse("CuratePipelineMain", args,
      Map("minQuality" -> "0.35", "neardup" -> "true", "excise" -> "false"),
      required = Seq("input", "output"))
    implicit val spark: org.apache.spark.sql.SparkSession =
      Opts.session("graft-curate")
    import spark.implicits._
    import graft.queries.{Dedup, TextAnalytics}

    val docs = graft.core.Tables.documents(spark, o("input"))

    // stage flags, not stage materializations: quality is rowwise;
    // the dedup keeper joins back the per-digest min doc_id (computed
    // over quality survivors, matching the staged pipeline exactly);
    // near-dup losers come from the shared d6 pair frame
    val withDigest = docs
      .withColumn("q_ok",
        TextAnalytics.qualityCol($"text") >= o("minQuality").toDouble)
      .withColumn("digest",
        md5(array_join(graft.functions.TextFunctions.tokenize($"text"), " ")
          .cast("binary")))
    val keepIds = withDigest.filter($"q_ok")
      .groupBy($"digest").agg(min($"doc_id").as("keep_id"))
    val losers =
      if (o.bool("neardup"))
        Dedup.sharedJaccardPairs(spark, o("input"), 0.5)
          .select($"doc_j".as("doc_id")).distinct()
          .withColumn("is_loser", lit(true))
      else spark.emptyDataset[Long].toDF("doc_id")
        .withColumn("is_loser", lit(true))
    val flagged = withDigest
      .join(keepIds, Seq("digest"), "left")
      .join(losers, Seq("doc_id"), "left")
      .withColumn("uniq", $"q_ok" && $"keep_id" === $"doc_id")
      .withColumn("kept", $"uniq" && coalesce($"is_loser", lit(false)) === false)

    val obs = new org.apache.spark.sql.Observation("funnel")
    val observed = flagged.observe(obs,
      count(lit(1)).as("n_in"),
      sum(when($"q_ok", 1L).otherwise(0L)).as("n_quality"),
      sum(when($"uniq", 1L).otherwise(0L)).as("n_unique"),
      sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
      sum(when($"kept", TextAnalytics.piiCount($"text")).otherwise(0L))
        .as("pii_redacted"))

    // Materialize the scrubbed survivors ONCE before the export:
    // curriculumFrameOf cross-joins the frame with an aggregate of
    // itself (the octile boundaries), which would clone the
    // CollectMetrics node into both branches — CollectMetricsExec keys
    // metrics by name and keeps an arbitrary instance, so any future
    // plan divergence between the clones could silently corrupt the
    // funnel (advisor r8). The eager localCheckpoint runs the observed
    // plan exactly once (one corpus read, one observation) and the
    // export diamond + manifest read the pinned blocks.
    val curated = observed.filter($"kept")
      .select($"doc_id", $"lang", $"source",
        TextAnalytics.piiScrub($"text").as("text"))
      .localCheckpoint()
    // optional exact-substring EXCISION over the survivors (the d28
    // transform): doc-level dedup keeps one copy of a near-dup PAIR,
    // but shared boilerplate spans across otherwise-distinct survivors
    // remain — this stage removes every non-keeper 8-token window
    // occurrence from the kept corpus. Same checkpoint-then-export
    // pattern as above (the excision frame also feeds the export
    // diamond); its own Observation carries the excised-token count
    // into the funnel, consumed by the checkpoint's materialization.
    val (toExport, tokensExcised) =
      if (o.bool("excise")) {
        val exObs = new org.apache.spark.sql.Observation("excise")
        val ex = graft.queries.Dedup.withExcisedText(curated, 8)
          .observe(exObs, sum($"n_excised").as("tokens_excised"))
          .select($"doc_id", $"lang", $"source", $"text")
          .localCheckpoint()
        (ex, exObs.get("tokens_excised").toString.toLong)
      } else (curated, 0L)
    TrainExport.exportCurated(toExport, o("output"))

    val m = obs.get
    val funnel =
      s"""{"n_in":${m("n_in")},"n_quality":${m("n_quality")},""" +
        s""""n_unique":${m("n_unique")},"n_kept":${m("n_kept")},""" +
        s""""pii_redacted":${m("pii_redacted")},""" +
        s""""tokens_excised":$tokensExcised}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(o("output"), "_funnel.json"), funnel)
    println(s"curate: $funnel -> ${o("output")}")
  }
}

/** Corpus-health report — the per-ingest-batch diagnostic bundle a
  * training-data pipeline runs alongside curation: every battery member
  * is an existing oracle-checked query with a BOUNDED output (source-,
  * vocab-, or constant-sized — never per-doc), so the whole report is
  * driver-safe at any corpus size. One JSON file per diagnostic under
  * `--output`, plus a one-line summary with the headline numbers.
  */
/** The vector-side sibling of CuratePipeline: build the serving IVF
  * index layout from an embeddings table and bundle the maintenance
  * reports the v19/v20 loop runs on it. Outputs under `--output`:
  *   postings/        — (vec_id, embedding) parquet PARTITIONED BY cid:
  *                      the posting-list layout, so an nprobe searcher
  *                      reads only the probed cells' files (partition
  *                      pruning does the cell selection at scan time)
  *   increment/       — v19's incremental-add assignment (cost ∝ the
  *                      ingest batch)
  *   _manifest.json   — per-cell occupancy + v20's per-cell drift rows:
  *                      the re-train trigger inputs, computed from the
  *                      SAME assignment scan the build already ran
  * Cell count and the frozen first-K centroid convention match
  * v4/v14/v19/v20, so every report row is oracle-checked query output.
  */
object IndexPipelineMain {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse("IndexPipelineMain", args,
      Map("cells" -> "10"), required = Seq("input", "output"))
    implicit val spark: org.apache.spark.sql.SparkSession =
      Opts.session("graft-index")
    import spark.implicits._
    val out = o("output")
    // the assignment scan is the pipeline's one corpus-sized frame and
    // it has TWO consumers (postings write + occupancy collect) — pin
    // it once so the Lloyd assignment doesn't replay per consumer.
    // persist(MEMORY_AND_DISK), NOT localCheckpoint (round-12 ADVICE):
    // a checkpoint stores non-replicated executor blocks with lineage
    // truncated, so on a real cluster one executor loss (or a
    // dynamic-allocation decommission) makes the pinned data
    // unrecoverable and fails the job; a persist keeps the lineage and
    // simply recomputes lost blocks
    val (assign0, _) = graft.queries.Similarity
      .ivfCoarse(spark, o("input"), o("cells").toInt, 1)
    val assign = assign0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cells = try {
      assign.select($"cid", $"vec_id", $"embedding")
        .write.mode("overwrite").partitionBy("cid")
        .parquet(s"$out/postings")
      graft.SparkEntry.queries("v19_ivf_increment")(spark, o("input"))
        .write.mode("overwrite").parquet(s"$out/increment")
      assign.groupBy($"cid").agg(count(lit(1)).as("n"))
        .orderBy($"cid").as[(Long, Long)].collect()
    } finally assign.unpersist(blocking = false) // after the 2nd consumer
    val drift = graft.SparkEntry.queries("v20_cell_drift")(spark, o("input"))
      .toJSON.collect()
    val manifest =
      s"""{"n_vectors":${cells.map(_._2).sum},"n_cells":${cells.length},
         |"cells":{${cells.map { case (c, n) => s""""$c":$n""" }.mkString(",")}},
         |"drift":[${drift.mkString(",\n")}]}""".stripMargin
    // the Hadoop filesystem API resolves the SAME URI scheme the
    // postings/increment writers used, so --output may be any
    // supported filesystem, not just local paths (java.nio would
    // silently treat "hdfs://…" as a relative local path)
    val manifestPath = new org.apache.hadoop.fs.Path(out, "_manifest.json")
    val fs = manifestPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(manifestPath, true)
    try os.write(manifest.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
    println(s"index-pipeline: ${cells.map(_._2).sum} vectors, " +
      s"${cells.length} cells -> $out")
  }
}

object CorpusReportMain {
  /** name → bounded-output query, with the headline scalar to surface. */
  private val battery = Seq(
    "x22_zipf_slope", // 1 row — corpus Zipf fit
    "x13_source_divergence", // per source — KL drift vs corpus
    "x18_hll_distinct", // per source — distinct tokens (sketch + exact)
    "x23_hist_quantiles", // per source — mergeable length histogram
    "x26_gopher_rules", // per source — rule-gate pass rates
    "x21_temperature_mix", // per source — resampling weights
    "t6_cms_heavy_hitters", // top-k — heavy-hitter tokens
    "d23_source_overlap", // source pairs — cross-source contamination
    "d33_effective_tokens") // per source — dedup-aware token budget

  def main(args: Array[String]): Unit = {
    val o = Opts.parse("CorpusReportMain", args, Map.empty,
      required = Seq("input", "output"))
    val spark = Opts.session("graft-corpus-report")
    val outDir = java.nio.file.Paths.get(o("output"))
    java.nio.file.Files.createDirectories(outDir)
    val summaries = battery.map { name =>
      val rows = graft.SparkEntry.queries(name)(spark, o("input"))
        .toJSON.collect() // bounded by construction (see battery note)
      java.nio.file.Files.writeString(outDir.resolve(s"$name.json"),
        rows.mkString("[", ",\n", "]"))
      s""""$name":${rows.length}"""
    }
    val slope = graft.SparkEntry.queries("x22_zipf_slope")(spark, o("input"))
      .select(org.apache.spark.sql.functions.col("slope"))
      .collect().head.getDouble(0)
    val line = s"""{"zipf_slope":$slope,"rows":{${summaries.mkString(",")}}}"""
    java.nio.file.Files.writeString(outDir.resolve("_report.json"), line)
    println(s"corpus-report: $line -> ${o("output")}")
  }
}

object StatefulTeamScoreMain {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse("StatefulTeamScoreMain", args,
      Map("thresholdScore" -> "5000"),
      required = Seq("input", "output"))
    implicit val spark: org.apache.spark.sql.SparkSession =
      Opts.session("graft-stateful-team-score")
    import spark.implicits._
    val events = StreamingGameSource.events(spark, o("input"))
      .select($"team".as("key"), $"value".cast("long").as("score"))
      .as[graft.streaming.StreamOps.ScoreEvent]
    val q = graft.streaming.StreamOps
      .thresholdCrossings(events, o("thresholdScore").toLong)
      .toDF()
      .writeStream.outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").csv(o("output"))
      }
      .option("checkpointLocation", o("output") + "/_cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
