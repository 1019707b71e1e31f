package graft

import org.apache.spark.sql.functions._

/** Round 20 (r19 verdict item 1 + item 3): the bench record grew a
  * cold-pin attribution vector and per-query task-metric telemetry —
  * this spec pins the two properties those fields rely on.
  *
  * 1. AMORTIZED TOTAL IS SUITE-ORDER INVARIANT (within noise). The
  *    per-query numbers embed shared-pin amortization by suite order
  *    (whichever d-family query runs first fronts the Jaccard-pair pin
  *    for the rest), so per-query attribution depends on order — but
  *    the family TOTAL must not: total work = one pin build + N
  *    consumers regardless of which query fronts the build. Run the
  *    exact-dedup pin-sharing family forward and reversed (caches
  *    evicted before each pass) and require the totals within the
  *    contamination machinery's noise bar. Results must be identical
  *    row-for-row in both orders (determinism under eviction — the
  *    property the cold pass's evict-before-every-query loop relies
  *    on).
  *
  * 2. THE METRICS LISTENER SURVIVES A FAILED QUERY. One query throwing
  *    mid-job must not unhook telemetry for the rest of the suite: a
  *    later successful query still records peakExecutionMemory.
  */
class BenchAttributionSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // the exact-dedup pin-sharing family: d2 builds the Jaccard-pair pin
  // the others consume; in REVERSED order d7 fronts the build instead
  private val family = Seq("d2_jaccard_pairs", "d6_dedup_corpus",
    "d10_best_keeper", "d7_dup_components")

  private def evictAll(): Unit = graft.core.Pins.evict(spark)

  private def runPass(order: Seq[String]): (Double, Map[String, Long]) = {
    evictAll()
    var total = 0.0
    val rows = order.map { q =>
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(q)(spark, dir).count()
      total += (System.nanoTime() - t0) / 1e9
      q -> n
    }.toMap
    (total, rows)
  }

  test("amortized family total is suite-order invariant within noise") {
    // warm the JVM/codegen on the family once so neither pass pays
    // first-ever-compile cost (the bench's warmup preamble)
    runPass(family)
    val (fwd, rowsFwd) = runPass(family)
    val (rev, rowsRev) = runPass(family.reverse)
    assert(rowsFwd == rowsRev,
      s"row counts changed with suite order: $rowsFwd vs $rowsRev")
    val ratio = math.max(fwd, rev) / math.min(fwd, rev)
    // noise bar = the contamination machinery's canary threshold (2.5);
    // on a contended host (the flag's own loadavg criterion) timing
    // assertions are meaningless — report, don't fail, exactly as the
    // bench record flags rather than fails
    val load1 = scala.io.Source.fromFile("/proc/loadavg").mkString
      .split(" ").head.toDouble
    val loaded = load1 / math.max(1, Bench.hostCpus()) >= 0.5
    info(f"forward $fwd%.2fs reversed $rev%.2fs ratio $ratio%.2f " +
      f"(load1 $load1%.1f/${Bench.hostCpus()} cpus, contended=$loaded)")
    if (!loaded)
      assert(ratio < 2.5,
        f"suite-order changed the amortized family total $ratio%.2fx " +
          f"(fwd $fwd%.2fs vs rev $rev%.2fs) — amortization is not " +
          "order-invariant")
  }

  test("metrics listener survives a failed query and keeps recording") {
    import spark.implicits._
    val qml = new QueryMetricsListener
    spark.sparkContext.addSparkListener(qml)
    try {
      qml.current = "boom"
      intercept[Exception] {
        // collect(), not count(): count prunes the projected column and
        // the planted assert_true would never evaluate
        spark.range(100).select(
          assert_true(col("id") < 50L, lit("planted failure"))).collect()
      }
      Bench.drainListenerBus(spark.sparkContext)
      qml.current = "ok"
      // a real shuffle so tasks report non-trivial metrics
      spark.range(100000).groupBy(($"id" % 97).as("k")).count().count()
      Bench.drainListenerBus(spark.sparkContext)
      qml.current = ""
      assert(qml.peakMem.containsKey("ok"),
        "listener stopped recording after the failed query")
      assert(qml.peakMem.get("ok").longValue() >= 0L)
      // spill maps attribute to the same key set
      assert(qml.spillMem.containsKey("ok") && qml.spillDisk.containsKey("ok"))
    } finally spark.sparkContext.removeSparkListener(qml)
  }

  test("hostCpus reads a positive host core count") {
    val n = Bench.hostCpus()
    assert(n >= 1, s"hostCpus() = $n")
    // the JVM view can be cgroup-limited BELOW the host view, never
    // above it (the asymmetry the r19 ADVICE fix is about)
    assert(n >= Runtime.getRuntime.availableProcessors(),
      s"host $n < jvm ${Runtime.getRuntime.availableProcessors()}")
  }
}
