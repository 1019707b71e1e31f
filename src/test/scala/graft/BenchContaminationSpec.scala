package graft

import org.scalatest.funsuite.AnyFunSuite

/** Threshold logic for Bench's machine-readable contamination flag
  * (round 18, r17 verdict item 4; loadavg CPU-normalized in round 19,
  * r18 verdict item 4): the flag must reproduce the human adjudication
  * of the committed records — the loaded r17 driver run rejected, the
  * quiet paired runs accepted, and the r18 driver run (loadavg 3.47 on
  * 32 cores ≈ 11% utilization, measured within 2.5% of the quiet
  * number) NO LONGER false-positived.
  */
class BenchContaminationSpec extends AnyFunSuite {

  test("quiet-run signals are clean (r17 paired-run profile, 32 cores)") {
    // judge's quiet pairing: canary_ratio ~1.1, family max ~1.4,
    // loadavg_start ~1.5
    assert(Bench.contaminationOf(1.1, 1.4, "1.52 1.60 1.71", 32).isEmpty)
    // arg-filtered runs emit -1 sentinels — never contaminated by them
    assert(Bench.contaminationOf(-1.0, -1.0, "0.10 0.20 0.30", 32).isEmpty)
  }

  test("the r17 driver record's profile is flagged via its canaries") {
    // BENCH_r17.json: families re-timed 3.8x+ — the canary signal
    // carries the rejection; its loadavg 3.8 on 32 cores (12%) no
    // longer trips the normalized load bar (the canaries measure the
    // run itself, which is the evidence that matters)
    val reasons = Bench.contaminationOf(1.2, 3.9, "3.80 5.10 6.95", 32)
    assert(reasons == Seq("canary_family_max 3.90 >= 2.5"), reasons)
  }

  test("r18 driver record (loadavg 3.47 / 32 cores) is no longer flagged") {
    // the adjudicated false positive the normalization exists to fix:
    // 87.9 s measured within 2.5% of the 85.8 s quiet record, canaries
    // quiet, 11% utilization — a valid record the absolute bar rejected
    assert(Bench.contaminationOf(1.1, 1.2, "3.47 2.80 2.10", 32).isEmpty)
  }

  test("a genuinely contended small box flags on normalized load") {
    // 4-core box at loadavg 2.4 = 60% of cores owned by other work —
    // the absolute >= 2.5 bar would have passed it
    assert(Bench.contaminationOf(1.0, 1.0, "2.40 2.00 1.80", 4) ==
      Seq("loadavg_start 2.40 / 4 cpus = 0.60 >= 0.5"))
  }

  test("each signal trips independently at its threshold") {
    assert(Bench.contaminationOf(2.5, 1.0, "0.5 0.5 0.5", 32) ==
      Seq("canary_ratio 2.50 >= 2.5"))
    assert(Bench.contaminationOf(1.0, 2.5, "0.5 0.5 0.5", 32) ==
      Seq("canary_family_max 2.50 >= 2.5"))
    assert(Bench.contaminationOf(1.0, 1.0, "16.00 0.5 0.5", 32) ==
      Seq("loadavg_start 16.00 / 32 cpus = 0.50 >= 0.5"))
    assert(Bench.contaminationOf(2.49, 2.49, "15.9 99.9 99.9", 32).isEmpty)
    // a degenerate cpu count never divides by zero
    assert(Bench.contaminationOf(1.0, 1.0, "0.60 0.5 0.5", 0) ==
      Seq("loadavg_start 0.60 / 1 cpus = 0.60 >= 0.5"))
  }

  test("an unreadable /proc/loadavg never flags (signal absent, not dirty)") {
    assert(Bench.contaminationOf(1.0, 1.0, "unavailable", 32).isEmpty)
    assert(Bench.contaminationOf(1.0, 1.0, "", 32).isEmpty)
  }

  test("steal percentage: pure window arithmetic, absent-safe") {
    // 50 steal ticks over a 1000-tick window = 5%
    assert(Bench.stealPct(Some((100L, 10000L)), Some((150L, 11000L))) == 5.0)
    // absent samples or a non-advancing clock read -1 (signal missing)
    assert(Bench.stealPct(None, Some((1L, 2L))) == -1.0)
    assert(Bench.stealPct(Some((1L, 2L)), None) == -1.0)
    assert(Bench.stealPct(Some((1L, 100L)), Some((1L, 100L))) == -1.0)
    // the live reader parses /proc/stat on this platform (or is None,
    // never a throw)
    Bench.stealTicks().foreach { case (s, t) =>
      assert(s >= 0 && t > 0 && s <= t)
    }
  }

  test("mid-run family-boundary load flags what the start sample missed " +
      "(the r20 c32 signature)") {
    // r20 root cause: loadavg_start 1.90 (clean), per-family canary max
    // 1.63 (under its 2.5 bar), yet the d22-d26 stretch ran 4-9x slow —
    // ambient load arrived mid-run. A family-boundary sample at d's close
    // showing >= 0.5 normalized load must flag the record, naming the
    // family whose window it closes.
    val reasons = Bench.contaminationOf(0.63, 1.63, "1.90 2.44 1.53", 32,
      Seq('a' -> "2.10 2.00 1.60", 'd' -> "18.40 9.10 4.20",
        'j' -> "3.00 6.00 4.00"))
    assert(reasons == Seq("loadavg_family_d 18.40 / 32 cpus = 0.58 >= 0.5"),
      reasons)
    // quiet family samples add nothing; unreadable samples never flag
    assert(Bench.contaminationOf(1.0, 1.0, "1.0 1.0 1.0", 32,
      Seq('a' -> "2.0 1.0 1.0", 'd' -> "unavailable")).isEmpty)
  }

  test("steal denominator is user..steal: guest time is not counted twice") {
    // user nice system idle iowait irq softirq steal guest guest_nice:
    // guest (300) and guest_nice (50) already sit inside user and nice
    val line = "cpu  400 100 100 300 0 0 0 100 300 50"
    assert(Bench.stealOf(line) == Some((100L, 1000L)))
    assert(Bench.stealPct(Bench.stealOf("cpu  0 0 0 0 0 0 0 0 0 0"),
      Bench.stealOf(line)) == 10.0)
    // kernels without the guest columns parse the same way
    assert(Bench.stealOf("cpu 400 100 100 300 0 0 0 100") ==
      Some((100L, 1000L)))
    assert(Bench.stealOf("cpu0 1 2 3 4 5 6 7 8 9 10").isEmpty)
    assert(Bench.stealOf("cpu 1 2 3").isEmpty)
  }

  test("the first family's steal window opens after the canary baseline") {
    // scripted /proc/stat samples: (steal, total) ticks
    val samples = Iterator(Some((0L, 1000L)), Some((90L, 2000L)),
      Some((100L, 2100L)), Some((130L, 2400L)))
    val w = new Bench.StealWindows(() => samples.next())
    w.close('!') // a close before any open has no window
    assert(w.pct('!') == -1.0)
    w.open() // after the baseline run: (90, 2000)
    w.close('a') // (100, 2100): 10 steal over 100 ticks
    w.close('b') // (130, 2400): the next window starts at a's close
    assert(w.pct.toSeq == Seq('!' -> -1.0, 'a' -> 10.0, 'b' -> 10.0))
  }

  test("reasons are locale-independent") {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      assert(f"${0.5}%.2f" == "0,50", "fixture: the default locale must " +
        "use a decimal comma for this test to mean anything")
      assert(Bench.contaminationOf(2.5, 3.9, "2.40 2.00 1.80", 4,
          Seq('d' -> "3.00 1.00 1.00")) == Seq(
        "canary_ratio 2.50 >= 2.5", "canary_family_max 3.90 >= 2.5",
        "loadavg_start 2.40 / 4 cpus = 0.60 >= 0.5",
        "loadavg_family_d 3.00 / 4 cpus = 0.75 >= 0.5"))
    } finally java.util.Locale.setDefault(saved)
  }
}
