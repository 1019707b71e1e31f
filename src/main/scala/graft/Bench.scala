package graft
import java.util.Locale
import org.apache.spark.sql.SparkSession

/** Per-query task-metrics collector (round 20, r19 verdict item 3):
  * seconds were recorded everywhere, bytes nowhere — yet bytes are what
  * price the 100 TB contract (which pins fit executor memory, which
  * queries spill). Attribution: the bench loop sets [[current]] before
  * a query and clears it after draining the listener bus, so every
  * TaskEnd lands on the query that scheduled it. Collected per query:
  * max task `peakExecutionMemory` (the largest single-task unsafe-memory
  * watermark — the number that must fit an executor core's share) and
  * summed `memoryBytesSpilled` / `diskBytesSpilled` (any non-zero value
  * means the in-memory operator state exceeded its budget at this SF).
  * The listener is defensive per event (null metrics on lost/failed
  * tasks are skipped) so one failed query cannot unhook telemetry for
  * the rest of the suite — spec-pinned in BenchAttributionSpec.
  */
private[graft] final class QueryMetricsListener
    extends org.apache.spark.scheduler.SparkListener {
  @volatile var current: String = ""
  val peakMem = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  val spillMem = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  val spillDisk = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  // summed shuffle-write bytes: the EXCHANGE volume a query ships — the
  // per-query number that scales with a 100 TB input where
  // peakExecutionMemory (per-task watermark) often does not; it is also
  // the only task-metric that sees an ImperativeAggregate's buffer size
  // (the buffer serializes through the partial-agg exchange while its
  // on-heap map is invisible to the execution-memory accounting)
  val shuffleWrite = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def merge(m: java.util.concurrent.ConcurrentHashMap[String, java.lang.Long],
      k: String, v: Long, op: (Long, Long) => Long): Unit =
    m.merge(k, java.lang.Long.valueOf(v),
      (a, b) => java.lang.Long.valueOf(op(a.longValue(), b.longValue())))
  override def onTaskEnd(
      t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
    val q = current
    val m = t.taskMetrics
    if (q.nonEmpty && m != null) {
      merge(peakMem, q, m.peakExecutionMemory, math.max)
      merge(spillMem, q, m.memoryBytesSpilled, _ + _)
      merge(spillDisk, q, m.diskBytesSpilled, _ + _)
      merge(shuffleWrite, q, m.shuffleWriteMetrics.bytesWritten, _ + _)
    }
  }
}

object Bench {

  /** Blocks until the listener bus has delivered all posted events —
    * without this, TaskEnd events from query N can land after query
    * N+1 started and be misattributed. `LiveListenerBus.waitUntilEmpty`
    * is `private[spark]` (Scala-level only; public in bytecode), so
    * this reaches it reflectively; if the method ever moves, fall back
    * to a short sleep rather than fail the bench.
    */
  private[graft] def drainListenerBus(
      sc: org.apache.spark.SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .fold(Thread.sleep(100L))(m => { m.invoke(bus); () })
    } catch { case _: Throwable => Thread.sleep(100L) }

  /** Host CPU count for normalizing /proc/loadavg (round 20, r19
    * ADVICE): the load average is HOST-wide, but
    * `Runtime.availableProcessors()` is cgroup/JVM-scoped — in a
    * CPU-limited container it undercounts the cores loadavg is
    * measured over, reintroducing the false-positive rejection the
    * normalization was built to fix (and masking real contention in
    * the opposite direction). Counts `processor` entries in
    * /proc/cpuinfo, which reports the host view even under cgroup
    * quotas; falls back to the JVM count when unreadable (non-Linux).
    * Both counts ride the JSON line so a reader can spot the container
    * case.
    */
  private[graft] def hostCpus(): Int =
    try {
      val n = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/cpuinfo")).stream()
        .filter(l => l.startsWith("processor")).count().toInt
      if (n > 0) n else Runtime.getRuntime.availableProcessors()
    } catch {
      case _: Throwable => Runtime.getRuntime.availableProcessors()
    }

  /** Streaming throughput probe (round-6 verdict item 2): rows/s through
    * the three stateful streaming ops — windowed counts (W1), session
    * windows (W3), threshold crossings (W15 flatMapGroupsWithState) —
    * under BOTH state-store backends (HDFS-backed default vs RocksDB).
    * MemoryStream input (no source I/O in the measurement), noop sink,
    * data fed in chunks so the state machinery crosses real microbatch
    * boundaries and the watermark advances/GCs state. Returns
    * (probe name, rows/sec), -1 on failure.
    */
  private def probeStreaming(spark: SparkSession): Seq[(String, Double)] = {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamOps
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    implicit val sp: SparkSession = spark

    val n = sys.env.getOrElse("SPARK_GRAFT_STREAM_ROWS", "200000").toInt
    val chunks = 8
    val per = n / chunks
    // rate over rows ACTUALLY fed (round-12 ADVICE): chunks·⌊n/chunks⌋ —
    // dividing the nominal n by elapsed time overstates whenever
    // chunks ∤ n (exact only at the default n = 200000)
    val fed = chunks * per
    val base = 1700000000000L // fixed epoch — deterministic windows

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }

    // one probe = build op over a fresh MemoryStream, pump all chunks.
    // `rows` parameterizes the BATCH SIZE (rows/chunks per microbatch):
    // the default n documents the microbatch-overhead-bound lower end;
    // the 10x row (r17 verdict item 6) shows throughput RISING with
    // batch size — per-microbatch fixed cost (planning, state-store
    // commit) amortizes over more rows, which is how a production
    // trigger would actually run.
    def windowedRps(rows: Int = n): Double = {
      val perC = rows / chunks
      val fedC = chunks * perC
      val in = MemoryStream[(Timestamp, String)]
      val out = StreamOps.windowedCounts(
        in.toDF().toDF("ts", "key"), "ts", "key", "10 minutes", "1 minute")
      val q = out.writeStream.format("noop").outputMode("append").start()
      try {
        val sec = timed((0 until chunks).foreach { c =>
          in.addData((0 until perC).map { i =>
            val j = c * perC + i
            (new Timestamp(base + j * 10L), "k" + (j % 1000))
          })
          q.processAllAvailable()
        })
        fedC / sec
      } finally q.stop()
    }

    def sessionRps(): Double = {
      val in = MemoryStream[(Timestamp, String)]
      val out = StreamOps.sessionCounts(
        in.toDF().toDF("ts", "key"), "ts", "key", "30 seconds", "1 minute")
      val q = out.writeStream.format("noop").outputMode("append").start()
      try {
        val sec = timed((0 until chunks).foreach { c =>
          in.addData((0 until per).map { i =>
            val j = c * per + i
            (new Timestamp(base + j * 10L), "k" + (j % 1000))
          })
          q.processAllAvailable()
        })
        fed / sec
      } finally q.stop()
    }

    def thresholdRps(): Double = {
      val in = MemoryStream[StreamOps.ScoreEvent]
      val out = StreamOps.thresholdCrossings(in.toDS(), 5000L)
      val q = out.writeStream.format("noop").outputMode("update").start()
      try {
        val sec = timed((0 until chunks).foreach { c =>
          in.addData((0 until per).map { i =>
            val j = c * per + i
            StreamOps.ScoreEvent("k" + (j % 1000), j % 97)
          })
          q.processAllAvailable()
        })
        fed / sec
      } finally q.stop()
    }

    val backends = Seq(
      "hdfs" -> ("org.apache.spark.sql.execution.streaming." +
        "state.HDFSBackedStateStoreProvider"),
      "rocksdb" -> ("org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider"))
    // the training-pipeline streaming ops: watermark-bounded exact dedup
    // and the quality-gate + dedup ingest curation, fed synthetic docs
    // with a planted duplicate rate so the digest state is exercised
    def dedupRps(curate: Boolean, rows: Int = n): Double = {
      val perC = rows / chunks
      val fedC = chunks * perC
      val in = MemoryStream[(Timestamp, String)]
      val df = in.toDF().toDF("ts", "text")
      val out =
        if (curate) StreamOps.streamingCurate(df, "ts", "text",
          minTokens = 2, maxTokens = 1000, maxDupFrac = 0.9, "10 minutes")
        else StreamOps.streamingDedup(df, "ts", "text", "10 minutes")
      val q = out.writeStream.format("noop").outputMode("append").start()
      try {
        val sec = timed((0 until chunks).foreach { c =>
          in.addData((0 until perC).map { i =>
            val j = c * perC + i
            // ~25% duplicates: every 4th doc repeats the previous text
            val k = if (j % 4 == 3) j - 1 else j
            (new Timestamp(base + j * 10L),
              s"tok${k % 7919} tok${k % 6101} tok${k % 4201} body $k")
          })
          q.processAllAvailable()
        })
        fedC / sec
      } finally q.stop()
    }

    // the near-dup sibling: rowwise MinHash banding + band-keyed state,
    // same planted ~25% duplicate rate (copies collide on all 4 bands)
    def nearDedupRps(rows: Int = n): Double = {
      val perC = rows / chunks
      val fedC = chunks * perC
      val in = MemoryStream[(Timestamp, Long, String)]
      val out = StreamOps.streamingNearDedup(
        in.toDF().toDF("ts", "doc_id", "text"), "ts", "doc_id", "text",
        horizonMs = 600000L)
      val q = out.writeStream.format("noop").outputMode("append").start()
      try {
        val sec = timed((0 until chunks).foreach { c =>
          in.addData((0 until perC).map { i =>
            val j = c * perC + i
            val k = if (j % 4 == 3) j - 1 else j
            (new Timestamp(base + j * 10L), j.toLong,
              s"tok${k % 7919} tok${k % 6101} tok${k % 4201} body $k")
          })
          q.processAllAvailable()
        })
        fedC / sec
      } finally q.stop()
    }

    // W12's timer-driven pane sequencer — the heaviest per-group state
    // machine in the engine (per-(key, window) state + an event-time
    // timer); the probe advances the watermark across windows so timers
    // fire and state is GC'd inside the measurement
    def panesRps(): Double = {
      val in = MemoryStream[(String, Timestamp)]
      val out = StreamOps.sequencedPanes(
        in.toDF().toDF("key", "ts"), windowMs = 60000L, latenessMs = 30000L)
      val q = out.toDF().writeStream.format("noop")
        .outputMode("update").start()
      try {
        val sec = timed((0 until chunks).foreach { c =>
          in.addData((0 until per).map { i =>
            val j = c * per + i
            ("k" + (j % 1000), new Timestamp(base + j * 10L))
          })
          q.processAllAvailable()
        })
        fed / sec
      } finally q.stop()
    }

    // stream-stream attribution join: both sides unbounded, watermark +
    // range bound GC the buffered views; ~1 purchase per 4 views
    def attributionRps(rows: Int = n): Double = {
      val perC = rows / chunks
      val fedC = chunks * perC
      val views = MemoryStream[(Long, Timestamp)]
      val purchases = MemoryStream[(Long, Timestamp, Double)]
      val out = StreamOps.attributionJoin(
        views.toDF().toDF("user_id", "ts"),
        purchases.toDF().toDF("user_id", "p_ts", "amount"),
        "10 minutes")
      val q = out.writeStream.format("noop").outputMode("append").start()
      try {
        val sec = timed((0 until chunks).foreach { c =>
          views.addData((0 until perC).map { i =>
            val j = c * perC + i
            ((j % 1000).toLong, new Timestamp(base + j * 10L))
          })
          purchases.addData((0 until perC / 4).map { i =>
            val j = (c * perC / 4 + i) * 4
            ((j % 1000).toLong, new Timestamp(base + j * 10L + 5000L),
              (j % 97).toDouble)
          })
          q.processAllAvailable()
        })
        // total rows pumped through both sides, as actually fed
        (fedC + chunks * (perC / 4)) / sec
      } finally q.stop()
    }

    // streaming IVF ingest (the v19/v20 loop's live side): stateless
    // JIT assignment + one windowed per-cell agg — the embedding rows
    // are the heaviest per-row payload in the probe set (64 floats)
    def ivfIngestRps(rows: Int = n): Double = {
      val cents = Array.tabulate(8)(k =>
        (k.toLong, Array.tabulate(64)(j =>
          if (j % 8 == k) 1.0f else 0.01f * ((j + k) % 5))))
      val in = MemoryStream[(Timestamp, Long, Array[Float])]
      val out = StreamOps.streamingIvfIngest(
        in.toDF().toDF("ts", "vec_id", "embedding"),
        "ts", "vec_id", "embedding", cents, "10 minutes", "1 minute")
      val q = out.writeStream.format("noop").outputMode("append").start()
      try {
        val nv = rows / 4 // embedding rows are ~64x heavier than words
        // rate over rows actually fed: chunks·⌊nv/chunks⌋ (dividing nv
        // by the elapsed time overstates whenever chunks ∤ nv)
        val fed = chunks * (nv / chunks)
        val sec = timed((0 until chunks).foreach { c =>
          in.addData((0 until nv / chunks).map { i =>
            val j = c * (nv / chunks) + i
            (new Timestamp(base + j * 10L), j.toLong,
              Array.tabulate(64)(d => ((j * 31 + d) % 97) / 97.0f))
          })
          q.processAllAvailable()
        })
        fed / sec
      } finally q.stop()
    }

    val ops: Seq[(String, () => Double)] = Seq(
      "windowed" -> (() => windowedRps()),
      "session" -> (() => sessionRps()),
      "threshold" -> (() => thresholdRps()),
      "dedup" -> (() => dedupRps(curate = false)),
      "curate" -> (() => dedupRps(curate = true)),
      "neardup" -> (() => nearDedupRps()),
      "panes" -> (() => panesRps()),
      "attribution" -> (() => attributionRps()),
      "ivfingest" -> (() => ivfIngestRps()))

    // 10x-batch rows (r17 verdict item 6): the default per-microbatch
    // row count documents the LOWER BOUND (fixed per-batch cost
    // dominates); these show throughput rising once the batch amortizes
    // it — the regime a production trigger interval targets. Round 19
    // (r18 verdict item 6) adds the three SLOWEST probes — neardup,
    // attribution, ivfingest, the ones a capacity planner actually asks
    // about — alongside the original windowed/dedup pair. Default
    // backend only: the batch-size effect is backend-independent
    // plumbing, and 5 probes keep the bench line's cost bounded.
    // The 10x row count computes in Long (r18 ADVICE): n * 10 as Int
    // overflows for SPARK_GRAFT_STREAM_ROWS >= ~215M — fail loudly
    // (recorded under streaming_errors) rather than feed garbage.
    def rows10x: Int = {
      val v = n.toLong * 10
      require(v <= Int.MaxValue,
        s"SPARK_GRAFT_STREAM_ROWS=$n: the 10x batch row count $v " +
          "overflows Int — lower the row count for the batch10x probes")
      v.toInt
    }
    val batch10x: Seq[(String, () => Double)] = Seq(
      "windowed_batch10x" -> (() => windowedRps(rows = rows10x)),
      "dedup_batch10x" -> (() => dedupRps(curate = false, rows = rows10x)),
      "neardup_batch10x" -> (() => nearDedupRps(rows = rows10x)),
      "attribution_batch10x" -> (() => attributionRps(rows = rows10x)),
      "ivfingest_batch10x" -> (() => ivfIngestRps(rows = rows10x)))
    // RocksDB batch-10x rows for the three slowest probes (round 20,
    // r19 verdict item 4): the r19 amortization rows were default
    // backend only, but the production state store at 100 TB is
    // RocksDB, whose default-batch numbers are the record's WORST
    // (attribution 6.5k, ivfingest 4.7k rows/s) — a capacity planner
    // needs the amortized RocksDB number, not an HDFS-backend proxy.
    val batch10xRocks: Seq[(String, () => Double)] = Seq(
      "neardup_batch10x" -> (() => nearDedupRps(rows = rows10x)),
      "attribution_batch10x" -> (() => attributionRps(rows = rows10x)),
      "ivfingest_batch10x" -> (() => ivfIngestRps(rows = rows10x)))

    val allProbes =
      (for ((bName, cls) <- backends; (oName, run) <- ops)
        yield (s"${oName}_$bName", cls, run)) ++
      // suffix derives from the backend row actually used (r18 ADVICE:
      // the hardcoded "_hdfs" label would silently mislabel the record
      // if the backends Seq were ever reordered)
      batch10x.map { case (nm, run) =>
        (s"${nm}_${backends.head._1}", backends.head._2, run)
      } ++
      batch10xRocks.map { case (nm, run) =>
        (s"${nm}_${backends(1)._1}", backends(1)._2, run)
      }

    for ((name, cls, run) <- allProbes) yield {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", cls)
      // A failed probe retries ONCE and always records its cause
      // (round-14 verdict item 4: the committed record carried two bare
      // -1s with the Throwable swallowed — transient, but undiagnosable
      // after the fact). The cause lands on stderr AND in the JSON
      // line's "streaming_errors" map.
      val rps =
        try run() catch { case e1: Throwable =>
          System.err.println(
            s"streaming probe $name failed (retrying once): " +
              s"${e1.getClass.getName}: ${e1.getMessage}")
          try run() catch { case e2: Throwable =>
            System.err.println(s"streaming probe $name failed twice: " +
              s"${e2.getClass.getName}: ${e2.getMessage}")
            probeErrors.put(name,
              s"${e2.getClass.getName}: ${String.valueOf(e2.getMessage).take(200)}")
            -1.0
          }
        }
      (name, rps)
    }
  }

  /** probe name → cause for every probe that read -1 (retried once). */
  private val probeErrors =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def loadavg(): String =
    try java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/loadavg")).trim.split(" ").take(3)
      .mkString(" ")
    catch { case _: Throwable => "unavailable" }

  /** (steal ticks, total ticks) from /proc/stat's aggregate cpu line —
    * hypervisor steal starves the JVM WITHOUT raising this guest's
    * runnable count, so a steal burst is invisible to every loadavg
    * sample (round 21: the machine's cumulative steal is ~10% of user
    * time, in bursts). Percentages between two samples ride the record
    * so a reader can reject a starved window the canaries undersampled.
    */
  private[graft] def stealTicks(): Option[(Long, Long)] =
    try {
      val stream = java.nio.file.Files.lines(
        java.nio.file.Paths.get("/proc/stat"))
      val first = try stream.findFirst().orElse("") finally stream.close()
      stealOf(first)
    } catch { case _: Throwable => None }

  /** (steal, total) ticks of /proc/stat's aggregate `cpu` line. The
    * total is user..steal (the first 8 fields): the kernel already counts
    * guest and guest_nice inside user and nice, so adding them again
    * would understate steal on a host that runs nested guests.
    */
  private[graft] def stealOf(cpuLine: String): Option[(Long, Long)] = {
    val cols = cpuLine.trim.split("\\s+")
    if (cols.length < 9 || cols(0) != "cpu") None
    else {
      val vals = cols.drop(1).flatMap(v => scala.util.Try(v.toLong).toOption)
      if (vals.length < 8) None
      else Some((vals(7), vals.take(8).sum)) // steal is field 8 (0-based 7)
    }
  }

  /** Per-family steal windows: [[open]] starts a window, and
    * `close(fam)` records the steal percentage since the last open or
    * close under `fam` and starts the next window there. A family closed
    * before any open reads -1 (signal absent).
    */
  private[graft] final class StealWindows(sample: () => Option[(Long, Long)]) {
    val pct = scala.collection.mutable.LinkedHashMap[Char, Double]()
    private var prev: Option[(Long, Long)] = None
    def open(): Unit = prev = sample()
    def close(fam: Char): Unit = {
      val now = sample()
      pct(fam) = stealPct(prev, now)
      prev = now
    }
  }

  /** Two-decimal number for the contamination reasons — Locale.ROOT, so
    * the record reads the same under any default locale.
    */
  private def r2(v: Double): String = "%.2f".formatLocal(Locale.ROOT, v)

  private[graft] def stealPct(a: Option[(Long, Long)],
                              b: Option[(Long, Long)]): Double =
    (for ((s0, t0) <- a; (s1, t1) <- b if t1 > t0)
      yield (s1 - s0).toDouble * 100.0 / (t1 - t0)).getOrElse(-1.0)

  /** MACHINE-READABLE contamination verdict (round 18, r17 verdict item
    * 4): the r17 driver record (117.1 s at loadavg 3.8-7.0 vs 85-88 s
    * quiet) carried every rejection signal but required a human to read
    * the loadavg/canary fields — tooling kept comparing it as if valid.
    * This folds the same signals into one flag the driver can reject on.
    * Thresholds: canary ratios ≥ 2.5 (the suite re-timed a trivial query
    * 2.5× slower than its in-suite run — the machine degraded mid-suite;
    * quiet runs sit at 0.9-1.4, the poisoned r17 families at 3.8+) and
    * a CPU-NORMALIZED 1-minute loadavg before the suite starts:
    * load1/cpus ≥ 0.5 — half the machine's cores already owned by other
    * work. Round 19 (r18 verdict item 4): the former ABSOLUTE ≥ 2.5 bar
    * false-positived the driver's r18 record (loadavg 3.47 on 32 cores
    * ≈ 11% utilization, measured within 2.5% of the quiet number) while
    * a genuinely-contended 4-core box at 2.4 would have passed. The
    * canary ratios stay un-normalized — they measure the run itself.
    * Returns the reasons, empty = clean. Pure function — spec-covered
    * in BenchContaminationSpec.
    */
  private[graft] def contaminationOf(canaryRatio: Double,
                                     canaryFamilyMax: Double,
                                     loadavgStart: String,
                                     cpus: Int,
                                     loadavgByFamily: Seq[(Char, String)] = Seq.empty): Seq[String] = {
    def load1Of(s: String): Option[Double] = s.split(" ").headOption
      .flatMap(v => scala.util.Try(v.toDouble).toOption)
    val load1 = load1Of(loadavgStart)
    val nCpu = math.max(1, cpus)
    // Round 21 (r20 root cause): the r20 c32 record's d22-d26 stretch ran
    // 4-9x slow under ambient load that arrived MID-RUN — loadavg_start
    // read 1.90 (clean) and the per-family canary peaked at 1.63 (under
    // its 2.5 bar), so the flag stayed false and the driver compared a
    // poisoned sample. The start-only gate cannot see it; these per-
    // family-boundary samples can. Same 0.5-normalized bar as the start
    // sample; the family letter rides the reason so a reader knows WHICH
    // stretch to reject.
    val midFlags = loadavgByFamily.flatMap { case (fam, s) =>
      load1Of(s).filter(_ / nCpu >= 0.5).map(l =>
        s"loadavg_family_$fam ${r2(l)} / $nCpu cpus = ${r2(l / nCpu)} >= 0.5")
    }
    Seq(
      if (canaryRatio >= 2.5)
        Some(s"canary_ratio ${r2(canaryRatio)} >= 2.5") else None,
      if (canaryFamilyMax >= 2.5)
        Some(s"canary_family_max ${r2(canaryFamilyMax)} >= 2.5") else None,
      load1.filter(_ / nCpu >= 0.5).map(l =>
        s"loadavg_start ${r2(l)} / $nCpu cpus = ${r2(l / nCpu)} >= 0.5"),
    ).flatten ++ midFlags
  }

  def main(args: Array[String]): Unit = {
    // optional arg filter: `runMain graft.Bench x16_bigram_logprob …` times
    // only the named queries (and skips the streaming probes) — the
    // per-query iteration loop; no args = the full driver-run suite
    val only = args.toSet
    def selected(name: String): Boolean = only.isEmpty || only(name)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // A/B knob: SPARK_GRAFT_CONF="k=v;k=v" sets session confs before any
    // query builds — times alternative plan shapes (saltedSkew,
    // bm25.termParallel, …) without a code edit
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').filter(_.nonEmpty)
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
      })
    // Self-diagnosing record (round-14 verdict item 1: three rounds
    // running, the driver's BENCH record arrived environment-poisoned —
    // ambient machine load inflating a contiguous run-order tail 4-85× —
    // and nothing in the JSON line let a reader reject it without a full
    // judge rerun). The line now carries: suite start/end /proc/loadavg,
    // per-query epoch-millis start times (a poisoned tail shows as a
    // wall-clock bulge at specific timestamps), the warmup cost measured
    // separately (item 6: cold-start was folded invisibly into the first
    // family), and an end-of-suite CANARY — p1_wordcount/p12_upper
    // re-timed after the last family; canary_ratio = max(recheck/suite).
    // Reading the record: canary_ratio ≳ 3 means the machine degraded
    // during the run — reject the tail, rerun. SCALE.md documents this.
    val loadStart = loadavg()
    val stealStart = stealTicks()
    // warmup, measured (not folded into the first family's queries):
    // JVM/codegen + parquet footers for every table family
    val warmupT0 = System.nanoTime()
    Seq("q1_agg", "p1_wordcount", "w1_tumbling", "a5_max_per_key",
        "j1_left_outer", "v2_lsh_buckets").foreach { q =>
      try SparkEntry.queries(q)(spark, sfDir).count()
      catch { case _: Throwable => () }
    }
    val warmupS = (System.nanoTime() - warmupT0) / 1e9
    // (name, seconds, succeeded). A failing query is reported as -1 and
    // listed in "failed" — never silently folded into the total.
    // SPARK_GRAFT_REPEAT=N (arg-filtered runs only): evaluate each query
    // N times and report the LAST — the warm steady-state number the
    // per-query "done" bars reference. The driver's unfiltered suite
    // keeps the single-evaluation contract.
    val repeat =
      if (only.isEmpty) 1
      else math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPEAT", "1").toInt)
    // Evict the session pins at FAMILY boundaries (the letter-prefix
    // change points a→d→j→p→q→t→v→w→x), matching ScaleFixture's
    // convention (round-13 verdict item 2): round 13's pin expansion
    // with no eviction accumulated every O(corpus) pinned frame across
    // all 160 queries in one JVM, and under memory pressure + machine
    // load the driver's record collapsed (533 s vs a clean 127 s —
    // p12_upper, an uppercase map, read 5.89 s). Pins stay alive WITHIN
    // a family so the amortization story (one pair-gen/CC/postings
    // build, N consumers) remains what the suite measures.
    def evictAll(): Unit = graft.core.Pins.evict(spark)
    var family = ' '
    val startMs = scala.collection.mutable.LinkedHashMap[String, Long]()
    // per-query task metrics (r19 verdict item 3): peakExecutionMemory
    // prices which pins/operators fit an executor's memory at the next
    // scale-up; spill bytes catch a pin quietly exceeding its budget.
    // `metricsKey` scopes attribution: suite queries record under their
    // name, the cold pass under "cold:<name>", canary re-times under
    // nothing (they would double-count their query's spill sums).
    val qml = new QueryMetricsListener
    spark.sparkContext.addSparkListener(qml)
    def timeQuery(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        reps: Int, metricsKey: String = ""): (Double, Boolean, Option[String]) = {
      // report the LAST rep's time (steady-state) but AND the ok flags
      // across ALL reps (round-16 ADVICE): with reps=2 canary calls, a
      // rep-1 failure must not be masked by a passing rep 2, and a
      // rep-1 success must not be discarded when rep 2 fails.
      // Third element: a capacity guard's refusal message (round 19,
      // r18 verdict item 1) — a GuardRefusal anywhere in the cause
      // chain means the query DECLINED by design (d4's pair cap, d5's
      // vector cap), which the record must report under "refused", not
      // "failed": BENCH_100X.json listed d4_simhash_pairs' designed
      // 2B-pair guard trip under "failed" and driver tooling had no way
      // to tell it from a crash.
      var lastSec = 0.0
      var allOk = true
      var refused: Option[String] = None
      if (metricsKey.nonEmpty) qml.current = metricsKey
      try (1 to reps).foreach { _ =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
                 catch {
                   case graft.core.GuardRefusal(msg) =>
                     refused = Some(msg); false
                   case _: Throwable => false
                 }
        lastSec = (System.nanoTime() - t0) / 1e9
        allOk &&= ok
      } finally if (metricsKey.nonEmpty) {
        // deliver this query's TaskEnd events before the next query
        // claims the attribution key (the bus is async; without the
        // drain a straggler event lands on the wrong query)
        drainListenerBus(spark.sparkContext)
        qml.current = ""
      }
      (lastSec, allOk, refused)
    }
    // Per-family canary (round-15 verdict item 3): the end-of-suite canary
    // only catches TAIL poisoning — the driver's r15 record had the
    // j-family inflated 10-40x at minutes 2-3 yet canary_ratio read 1.16
    // because the machine quieted before the recheck. Re-time one ~100ms
    // map-shape query (p12_upper) at every family boundary against a
    // post-warmup baseline; any contiguous poisoned window now shows
    // in-band as that family's ratio >~3. Round-16 review fixes: the
    // baseline takes 2 reps and keeps the steady-state second (the cold
    // first-ever evaluation carried the same structural inflation the
    // end canary's recheck had) and respects the ok flag (a fast-failing
    // baseline would make every ratio garbage); each boundary sample is
    // recorded under the family that just COMPLETED — the window the
    // sample actually closes — with one final sample after the last
    // family (previously the sample at entry to family f was labeled f,
    // so a spike during f surfaced under f+1 and the last family had no
    // sample at all).
    val famCanary = scala.collection.mutable.LinkedHashMap[Char, Double]()
    // per-family-boundary /proc/loadavg samples (round 21, r20 root
    // cause): mid-run ambient load poisoned the r20 c32 d-family 4-9x
    // while loadavg_start read clean — each sample closes the family
    // that just COMPLETED (the famCanary labeling convention) and feeds
    // the contamination verdict
    val famLoad = scala.collection.mutable.LinkedHashMap[Char, String]()
    // per-family hypervisor-steal percentage (see [[stealTicks]]): the
    // window opens at the previous family's close (the first one after
    // the canary baseline below)
    val famSteal = new StealWindows(() => stealTicks())
    def familyLoad(fam: Char): Unit =
      if (fam != ' ') {
        famLoad(fam) = loadavg()
        famSteal.close(fam)
      }
    // per-family PIN STORAGE snapshot (round 21, r20 verdict item 6):
    // peakExecutionMemory prices task buffers, not cached blocks — the
    // resident pinned frames (content groups, postings, CC labels …)
    // were unpriced. Sampled at family close BEFORE eviction, i.e. the
    // family's peak resident pin footprint: summed in-memory + on-disk
    // cached bytes and the largest single cached RDD (the frame that
    // must fit the storage pool at the next scale-up).
    val famPins =
      scala.collection.mutable.LinkedHashMap[Char, (Long, Long, Long, Int)]()
    def familyPins(fam: Char): Unit =
      if (fam != ' ') {
        val infos = spark.sparkContext.getRDDStorageInfo
        famPins(fam) = (infos.map(_.memSize).sum, infos.map(_.diskSize).sum,
          infos.map(i => i.memSize + i.diskSize).foldLeft(0L)(math.max),
          infos.length)
      }
    val canaryBase: Double =
      if (only.isEmpty) {
        val (sec, ok, _) =
          timeQuery("p12_upper", SparkEntry.queries("p12_upper"), 2)
        if (ok) sec else -1.0
      } else -1.0
    // the first family's steal window opens at its start, not before the
    // baseline canary run
    famSteal.open()
    def familyCanary(fam: Char): Unit =
      if (fam != ' ' && only.isEmpty && canaryBase > 0) {
        val (sec, ok, _) =
          timeQuery("p12_upper", SparkEntry.queries("p12_upper"), 1)
        if (ok) famCanary(fam) = sec / canaryBase
      }
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => selected(kv._1)).map { case (name, fn) =>
      if (name.head != family) {
        familyPins(family) // sample BEFORE eviction — the resident peak
        evictAll(); familyCanary(family); familyLoad(family)
        family = name.head
      }
      startMs(name) = System.currentTimeMillis()
      val (sec, ok, refusal) = timeQuery(name, fn, repeat, metricsKey = name)
      (name, sec, ok, refusal)
    }
    familyPins(family) // the last family's resident peak, pre-eviction
    evictAll() // release the last family's pins before the streaming probes
    familyCanary(family) // close the LAST family's window
    familyLoad(family)
    // end-of-suite canary: re-time two trivial map-shape queries whose
    // in-suite times are stage floor; a busy machine late in the run
    // inflates the recheck, so canary_ratio flags a poisoned tail in-band
    val suiteTimes = results.map(r => r._1 -> r._2).toMap
    // 2 reps, keep the last: the single-eval recheck read a structural
    // ~1.5-1.6x on QUIET machines at the 10x suite length (post-suite
    // GC/code-cache churn inflating the first re-evaluation), which sat
    // exactly on the <=1.5 rejection bar. The second evaluation is the
    // steady-state the ratio should compare; genuine ambient load still
    // inflates it (both reps run under the same contention).
    val canary = (if (only.isEmpty) Seq("p1_wordcount", "p12_upper")
                  else Seq.empty).flatMap { q =>
      val (sec, ok, _) = timeQuery(q, SparkEntry.queries(q), 2)
      if (ok && suiteTimes.get(q).exists(_ > 0)) Some((q, suiteTimes(q), sec))
      else None
    }
    val canaryRatio =
      if (canary.isEmpty) -1.0
      else canary.map { case (_, s, r) => r / s }.max
    // COLD-PIN attribution pass (round 20, r19 verdict item 1): the
    // suite's per-query numbers embed shared-pin amortization by suite
    // order — d10 fronts the Jaccard-pair pin for the whole exact-dedup
    // family, d11 the LSH pin, d4_group_stats the SimHash pin — which
    // SCALE.md documents but nothing measured. With SPARK_GRAFT_COLD=1
    // every query re-runs with ALL module pins evicted first, so
    // "cold_queries" is the STANDALONE cost (pin build + consume) a
    // capacity planner can price a single query at, while "queries"
    // stays the amortized suite vector (one pin build, N consumers —
    // the shape a real multi-query session runs). Cold runs after the
    // amortized canary so it cannot perturb the primary vector; its own
    // contamination signal is cold_canary_ratio (p12_upper re-timed
    // after the pass against the same post-warmup baseline). Off by
    // default: it roughly doubles suite wall, which the driver's
    // fixed-budget round run must not pay.
    val coldEnabled =
      only.isEmpty && sys.env.get("SPARK_GRAFT_COLD").contains("1")
    val coldResults: Seq[(String, Double, Boolean)] =
      if (!coldEnabled) Seq.empty
      else SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        evictAll()
        val (sec, ok, _) = timeQuery(name, fn, 1, metricsKey = "cold:" + name)
        (name, sec, ok)
      }
    val coldCanaryRatio =
      if (coldEnabled && canaryBase > 0) {
        evictAll()
        val (sec, ok, _) =
          timeQuery("p12_upper", SparkEntry.queries("p12_upper"), 1)
        if (ok) sec / canaryBase else -1.0
      } else -1.0
    if (coldEnabled) evictAll() // release the cold pass's last pins
    val loadEnd = loadavg()
    // whole-run steal window (warmup → here): the starvation signal no
    // loadavg sample can carry (see stealTicks)
    val stealRunPct = stealPct(stealStart, stealTicks())
    def f3(v: Double): String = "%.3f".formatLocal(Locale.ROOT, v)
    val qs = results.map { case (k, v, ok, _) =>
      "\"" + k + "\":" + (if (ok) f3(v) else "-1")
    }.mkString("{", ",", "}")
    // guard refusals are NOT failures (r18 verdict item 1): "failed"
    // keeps real errors only; "refused" carries name → guard message so
    // driver tooling can tell a designed capacity refusal from a crash
    val failed = results.collect { case (k, _, false, None) =>
      "\"" + k + "\""
    }.mkString("[", ",", "]")
    def jstr(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
        .replaceAll("[\\x00-\\x1f]", " ") + "\""
    val refused = results.collect { case (k, _, false, Some(msg)) =>
      "\"" + k + "\":" + jstr(msg.take(300))
    }.mkString("{", ",", "}")
    // the compact line carries the SAME name→message object shape
    // (round-19 review: one field name must not mean object in the
    // full record but array in the compact line), with messages
    // truncated harder to respect the <=1 KB tail-capture budget
    val refusedCompact = results.collect { case (k, _, false, Some(msg)) =>
      "\"" + k + "\":" + jstr(msg.take(100))
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, v, true, _) => v }.sum
    // streaming rows/s probe rides the SAME single JSON line (the driver
    // parses one line; a second line would break it)
    val streaming = (if (only.isEmpty) probeStreaming(spark)
                     else Seq.empty).map { case (k, v) =>
      "\"" + k + "\":" + "%.0f".formatLocal(Locale.ROOT, v)
    }.mkString("{", ",", "}")
    import scala.jdk.CollectionConverters._
    // escape control chars too (round-15 ADVICE): exception messages can
    // carry any U+0000-U+001F, each of which breaks strict JSON unescaped
    val streamErrs = probeErrors.asScala.toSeq.sortBy(_._1).map {
      case (k, v) => "\"" + k + "\":\"" + v.replace("\\", "\\\\")
        .replace("\"", "\\\"").replaceAll("[\\x00-\\x1f]", " ") + "\""
    }.mkString("{", ",", "}")
    val starts = startMs.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val canaryJson = canary.map { case (q, s, r) =>
      "\"" + q + "\":{\"suite\":" + f3(s) + ",\"recheck\":" + f3(r) + "}"
    }.mkString("{", ",", "}")
    val famCanaryJson = famCanary.map { case (f, r) =>
      "\"" + f + "\":" + f3(r)
    }.mkString("{", ",", "}")
    val famLoadJson = famLoad.map { case (f, s) =>
      "\"" + f + "\":\"" + s + "\""
    }.mkString("{", ",", "}")
    val famPinsJson = famPins.map { case (f, (m, d, mx, n)) =>
      "\"" + f + s"""":{"mem":$m,"disk":$d,"max_rdd":$mx,"n_rdds":$n}"""
    }.mkString("{", ",", "}")
    val famStealJson = famSteal.pct.map { case (f, p) =>
      "\"" + f + "\":" + f3(p)
    }.mkString("{", ",", "}")
    val famCanaryMax =
      if (famCanary.isEmpty) -1.0 else famCanary.values.max
    // per-query task-metric maps (r19 verdict item 3); the cold pass's
    // entries carry the STANDALONE peak (pin build included) — the
    // number that must fit executor memory when a query runs alone
    def memMap(m: java.util.concurrent.ConcurrentHashMap[String, java.lang.Long],
        cold: Boolean): String =
      m.asScala.toSeq
        .collect {
          case (k, v) if k.startsWith("cold:") == cold =>
            (if (cold) k.stripPrefix("cold:") else k) -> v
        }
        .sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
    val peakMemJson = memMap(qml.peakMem, cold = false)
    val spillMemJson = memMap(qml.spillMem, cold = false)
    val spillDiskJson = memMap(qml.spillDisk, cold = false)
    val shuffleWriteJson = memMap(qml.shuffleWrite, cold = false)
    val peakMemMax: Long =
      qml.peakMem.asScala.collect {
        case (k, v) if !k.startsWith("cold:") => v.longValue()
      }.foldLeft(0L)(math.max)
    val spillTotal: Long =
      (qml.spillMem.asScala.toSeq ++ qml.spillDisk.asScala.toSeq).collect {
        case (k, v) if !k.startsWith("cold:") => v.longValue()
      }.sum
    val coldJson = coldResults.map { case (k, v, ok) =>
      "\"" + k + "\":" + (if (ok) f3(v) else "-1")
    }.mkString("{", ",", "}")
    val coldTotal = coldResults.collect { case (_, v, true) => v }.sum
    // cold fields ride the record only when the pass ran — an absent
    // field, not an empty map, is "not measured"
    val coldFields =
      if (coldEnabled)
        s""""cold_queries":$coldJson,"cold_total_s":${f3(coldTotal)},""" +
          s""""cold_canary_ratio":${f3(coldCanaryRatio)},""" +
          s""""cold_peak_exec_mem_bytes":${memMap(qml.peakMem, cold = true)},""" +
          s""""cold_spill_mem_bytes":${memMap(qml.spillMem, cold = true)},"""
      else ""
    // FULL self-diagnosing record — file only. Round-15 verdict item 1:
    // the driver captures just the LAST 2,000 bytes of stdout, and the
    // full record grew to ~10 KB, so BENCH_r12..r15.json were all mid-line
    // fragments ("parsed": null). The full record (every query time,
    // query_start_ms, canary detail) lives in BENCH_SELF.json; stdout's
    // final line is a compact <=1 KB summary the tail capture always fits.
    // escape interpolated PATHS (round-16 review): sfDir and the
    // SPARK_GRAFT_BENCH_OUT target are caller-controlled strings; a
    // quote or backslash in either would emit the exact invalid-JSON
    // record-loss mode the compact line exists to prevent
    // control chars (legal in env vars and POSIX paths) get the same
    // treatment as the streamErrs escaper — a newline or tab in a path
    // must not re-open the invalid-JSON record-loss mode (r16 ADVICE)
    def jpath(s: String): String =
      s.replace("\\", "\\\\").replace("\"", "\\\"")
        .replaceAll("[\\x00-\\x1f]", " ")
    val willWriteSelf =
      only.isEmpty || sys.env.contains("SPARK_GRAFT_BENCH_OUT")
    val selfName = jpath(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_SELF.json"))
    // an arg-filtered run without an explicit out path skips the durable
    // write; the compact line must then say "self":null rather than name
    // a stale full-suite record it didn't produce (r16 ADVICE)
    val selfField = if (willWriteSelf) "\"" + selfName + "\"" else "null"
    // machine-readable rejection flag (r17 verdict item 4): true means
    // the timings are load-poisoned and tooling must not compare them.
    // The loadavg divisor is the HOST core count (r19 ADVICE): loadavg
    // is host-wide, availableProcessors() cgroup-scoped — both counts
    // ride the record so a container-quota mismatch is visible.
    val cpusHost = hostCpus()
    val cpusJvm = Runtime.getRuntime.availableProcessors()
    val contamination =
      contaminationOf(canaryRatio, famCanaryMax, loadStart, cpusHost,
        famLoad.toSeq)
    val contaminatedField =
      s""""contaminated":${contamination.nonEmpty},"contamination_reasons":${
        contamination.map(r => "\"" + r + "\"").mkString("[", ",", "]")
      },"cpus_host":$cpusHost,"cpus_jvm":$cpusJvm,"steal_pct":${f3(stealRunPct)}"""
    val fullJson = s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,"failed":$failed,"refused":$refused,$coldFields"streaming_rows_per_sec":$streaming,"streaming_errors":$streamErrs,"warmup_s":${f3(warmupS)},"loadavg_start":"$loadStart","loadavg_end":"$loadEnd","canary":$canaryJson,"canary_ratio":${f3(canaryRatio)},"canary_by_family":$famCanaryJson,"loadavg_by_family":$famLoadJson,"steal_pct_by_family":$famStealJson,"pin_bytes_by_family":$famPinsJson,$contaminatedField,"peak_exec_mem_bytes":$peakMemJson,"spill_mem_bytes":$spillMemJson,"spill_disk_bytes":$spillDiskJson,"shuffle_write_bytes":$shuffleWriteJson,"query_start_ms":$starts,"sf":"${jpath(sfDir)}"}"""
    // compact line: totals + the 10 slowest queries (the per-query signal
    // a reader needs first) + the rejection signals (canary ratios,
    // loadavg). Round 21 (r20 verdict item 8): 5 → 10 — top-5 truncation
    // left PERF's round-over-round compare with n_common = 3; the 5 extra
    // entries cost ~160 bytes of the tail budget and double the
    // cross-round visibility. Additions-only: same field names, the
    // truncation marker carries the new count.
    val slowestN = 10
    val slowest = results.filter(_._3).sortBy(-_._2).take(slowestN).map {
      case (k, v, _, _) => "\"" + k + "\":" + f3(v)
    }.mkString("{", ",", "}")
    // compact cold summary: total only (the per-query cold vector lives
    // in the full record; the compact line must stay under the driver's
    // ~1 KB tail-capture budget)
    val coldCompact =
      if (coldEnabled)
        s""""cold_total_s":${f3(coldTotal)},"cold_canary_ratio":${
          f3(coldCanaryRatio)},"""
      else ""
    val compact = s"""{"metric":"total","value":${f3(total)},"unit":"sec","n_queries":${results.size},"failed":$failed,"refused":$refusedCompact,"queries":$slowest,"queries_truncated_to_slowest":$slowestN,${coldCompact}"warmup_s":${f3(warmupS)},"canary_ratio":${f3(canaryRatio)},"canary_family_max":${f3(famCanaryMax)},$contaminatedField,"peak_exec_mem_max_bytes":$peakMemMax,"spill_bytes_total":$spillTotal,"loadavg_start":"$loadStart","loadavg_end":"$loadEnd","sf":"${jpath(sfDir)}","self":$selfField}"""
    // durable copy FIRST, then the compact line as the very last stdout
    // bytes (the driver keeps only the tail). Arg-filtered runs skip the
    // default-path write (round-13 ADVICE): a partial subset would
    // silently clobber the full-suite BENCH_SELF.json. An explicit
    // SPARK_GRAFT_BENCH_OUT opts back in.
    if (willWriteSelf)
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(
          sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_SELF.json")),
        fullJson + "\n")
      catch { case e: Throwable =>
        // surface the failure (round-12 ADVICE): a silent swallow would
        // reproduce the exact stale-artifact mode this write guards
        // against
        System.err.println(s"bench-out write failed: $e")
      }
    // full record on stderr for human debugging; compact line on BOTH
    // streams, last, so any tail capture ends with one parseable object
    System.err.println(fullJson)
    System.err.println(compact)
    println(compact)
    spark.stop()
  }
}
