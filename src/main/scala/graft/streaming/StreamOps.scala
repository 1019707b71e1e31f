package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming operators covering SURVEY §2.7 (W1-W16).
  *
  * Batch/stream symmetry is the design invariant (reference pipelines run
  * both ways off one graph, `AutoComplete.scala:73-86`): every transform
  * here is a plain `DataFrame => DataFrame` built from `window()` /
  * `session_window()` / watermark, so the same function applies to
  * `spark.read` and `spark.readStream` inputs. State-machine semantics
  * that Spark aggregation cannot express (threshold crossings W15,
  * pane-by-pane emission W13-W14) use `flatMapGroupsWithState` — scale
  * contract: state is per-key in the state store (RocksDB at scale), one
  * shuffle on the key, no driver involvement.
  */
object StreamOps {

  /** W1+W8: tumbling-window per-key counts with watermark. In streaming
    * append mode a window emits once the watermark passes its end (Beam's
    * `AfterWatermark.pastEndOfWindow` default trigger, W9); rows later
    * than `lateness` beyond the watermark are dropped (Beam
    * `withAllowedLateness` expiry, `LeaderBoard.scala:106,180`).
    */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
                     windowDur: String, lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowDur).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
        col(keyCol), col("n"))

  /** W2: sliding-window sum (reference TrafficMaxLaneFlow windows,
    * `TrafficMaxLaneFlow.scala:99-103`).
    */
  def slidingAgg(events: DataFrame, tsCol: String, keyCol: String,
                 valCol: String, windowDur: String, slide: String,
                 lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowDur, slide).as("w"), col(keyCol))
      .agg(sum(col(valCol)).as("total"))
      .select(col("w.start").as("w_start"), col(keyCol), col("total"))

  /** W3: session windows per key (reference `Sessions.withGapDuration`,
    * `GameStats.scala:152`).
    */
  def sessionCounts(events: DataFrame, tsCol: String, keyCol: String,
                    gap: String, lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(session_window(col(tsCol), gap).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("s_start"), col("w.end").as("s_end"),
        col(keyCol), col("n"))

  /** W6: re-window across stages (reference `GameStats.scala:147-175`):
    * sessionize, stamp each session with its END as new event time
    * (`TimestampCombiner.END_OF_WINDOW`), then tumbling mean duration.
    */
  def sessionDurationMeans(events: DataFrame, tsCol: String, keyCol: String,
                           gap: String, bucket: String,
                           lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(session_window(col(tsCol), gap).as("w"), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("w.end").as("session_end"),
        (unix_micros(col("w.end")) - unix_micros(col("w.start"))).as("dur_us"))
      .withWatermark("session_end", lateness)
      .groupBy(window(col("session_end"), bucket).as("d"))
      .agg((sum(col("dur_us")).cast("double") / count(lit(1)) / 6.0e7)
        .as("avg_session_min"))
      .select(col("d.start").as("day"), col("avg_session_min"))

  // ---------------------------------------------------------------------
  // W15: per-key threshold crossings (reference StatefulTeamScore,
  // `StatefulTeamScore.scala:117-168`).

  case class ScoreEvent(key: String, score: Long)
  case class Crossing(key: String, total: Long, threshold: Long)

  /** Emits (key, runningTotal) each time the per-key cumulative score
    * crosses a multiple of `threshold` — `oldTotal/t < newTotal/t`
    * (`StatefulTeamScore.scala:164`). First-read state defaults to 0,
    * fixing the reference port's NPE (SURVEY §7.4 risk 3;
    * `StatefulTeamScore.scala:156`).
    */
  def thresholdCrossings(ds: Dataset[ScoreEvent], threshold: Long)
                        (implicit spark: org.apache.spark.sql.SparkSession)
      : Dataset[Crossing] = {
    import spark.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[Long, Crossing](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: String, events: Iterator[ScoreEvent], state: GroupState[Long]) =>
          var total = state.getOption.getOrElse(0L)
          val out = scala.collection.mutable.ListBuffer.empty[Crossing]
          events.foreach { e =>
            val old = total
            total += e.score
            if (old / threshold < total / threshold)
              out += Crossing(key, total, threshold)
          }
          state.update(total)
          out.iterator
      }
  }

  // ---------------------------------------------------------------------
  // W13+W14: pane-by-pane emission with metadata (reference
  // `TriggerExample.scala:313-360`): per (key, window) the op emits one
  // row per trigger that saw data — carrying the per-pane delta
  // (discarding-panes semantics), the running total (accumulating-panes
  // semantics), the pane index, and EARLY/ON_TIME/LATE timing derived
  // from the watermark, which Spark's native aggregation does not expose.

  case class PaneState(total: Long, paneIndex: Int, firedOnTime: Boolean)
  case class Pane(key: String, windowStart: Timestamp, delta: Long,
                  cumulative: Long, paneIndex: Int, timing: String)

  /** Count events per (key, tumbling window), emitting one pane per
    * trigger with Beam-style pane metadata. Input df needs `key` and a
    * timestamp column `ts`; the watermark (which drives the EARLY/
    * ON_TIME/LATE labels) is `max(ts) - lateness` as of the previous
    * trigger.
    */
  def panedCounts(df: DataFrame, windowMs: Long, lateness: String)
                 (implicit spark: org.apache.spark.sql.SparkSession)
      : Dataset[Pane] = {
    import spark.implicits._
    implicit val stateEnc: Encoder[PaneState] = Encoders.product[PaneState]
    df.withWatermark("ts", lateness)
      // the watermarked ts attribute must remain in the operator's child
      // output or getCurrentWatermarkMs() has no watermark to read
      .select(col("key"),
        (unix_millis(col("ts")) - pmod(unix_millis(col("ts")), lit(windowMs)))
          .as("win_start_ms"),
        col("ts"))
      .as[(String, Long, Timestamp)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[PaneState, Pane](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (kw: (String, Long), rows: Iterator[(String, Long, Timestamp)],
         state: GroupState[PaneState]) =>
          val prev = state.getOption.getOrElse(PaneState(0L, 0, firedOnTime = false))
          val delta = rows.size.toLong
          val cum = prev.total + delta
          val wm = state.getCurrentWatermarkMs()
          val windowEnd = kw._2 + windowMs
          val timing =
            if (wm < windowEnd) "EARLY"
            else if (!prev.firedOnTime) "ON_TIME"
            else "LATE"
          state.update(PaneState(cum, prev.paneIndex + 1,
            prev.firedOnTime || timing != "EARLY"))
          Iterator.single(Pane(kw._1, new Timestamp(kw._2), delta, cum,
            prev.paneIndex, timing))
      }
  }

  // ---------------------------------------------------------------------
  // W12 (exact): the reference's composite sequential trigger
  // (`TriggerExample.scala:279-290`):
  //   AfterEach.inOrder(
  //     Repeatedly(AfterProcessingTime).orFinally(AfterWatermark.pastEndOfWindow),
  //     Repeatedly(AfterProcessingTime))
  // with accumulatingFiredPanes + withAllowedLateness. The exact fire
  // sequence per window-with-data is: EARLY* (one pane per trigger that
  // saw data, while the watermark is below window end), then EXACTLY ONE
  // ON_TIME pane the moment the watermark crosses window end — fired by
  // an event-time TIMER, so it happens even when that trigger carries no
  // new rows for the window (this is what `panedCounts` above, which only
  // reacts to data, cannot express), then LATE panes per trigger with
  // late data, until the watermark passes window end + allowed lateness —
  // after which the window's state is dropped and later stragglers are
  // discarded (Beam's lateness expiry).
  //
  // Watermark model. With EventTimeTimeout Spark's
  // FlatMapGroupsWithStateExec DROPS input rows older than the current
  // watermark before the user function runs
  // (applyRemovingRowsOlderThanWatermark — NoTimeout, as used by
  // `panedCounts` above, does no such filtering). A Beam LATE row has
  // ts < windowEnd <= beamWatermark, so under a naive
  // withWatermark(lateness) delay every within-lateness late row would
  // be silently filtered and the LATE path would be dead code. Fix: the
  // Spark watermark is delayed by windowMs + latenessMs, i.e.
  //   sparkWm = beamWm - (windowMs + latenessMs).
  // A row of window [ws, we) survives the exec's filter iff ts >= sparkWm,
  // and ws > sparkWm  <=>  beamWm < we + lateness  — exactly "window not
  // yet expired" in Beam terms. So every row Beam would accept reaches the
  // function, and every row Beam would drop lands in a window whose
  // expiry check below discards it. All Beam-facing thresholds are then
  // expressed against beamWm = sparkWm + windowMs + latenessMs:
  //   EARLY          while beamWm <  we
  //   ON_TIME timer  when  beamWm >= we          (timer at we - delay = ws - lateness)
  //   LATE           after ON_TIME, while beamWm < we + lateness
  //   expiry/GC      when  beamWm >= we + lateness (timer at ws)

  case class SeqPaneState(total: Long, paneIndex: Int, onTimeFired: Boolean)

  /** W12 exact composite-trigger pane sequence over tumbling windows.
    * Input df needs `key` and timestamp `ts`. Scale contract: one shuffle
    * on (key, window), per-group state + one timer in the state store,
    * state GC'd once the Beam watermark passes window end + `latenessMs`.
    */
  def sequencedPanes(df: DataFrame, windowMs: Long, latenessMs: Long)
                    (implicit spark: org.apache.spark.sql.SparkSession)
      : Dataset[Pane] = {
    import spark.implicits._
    implicit val stateEnc: Encoder[SeqPaneState] = Encoders.product[SeqPaneState]
    val delayMs = windowMs + latenessMs
    df.withWatermark("ts", s"$delayMs milliseconds")
      .select(col("key"),
        (unix_millis(col("ts")) - pmod(unix_millis(col("ts")), lit(windowMs)))
          .as("win_start_ms"),
        col("ts"))
      .as[(String, Long, Timestamp)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[SeqPaneState, Pane](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (kw: (String, Long), rows: Iterator[(String, Long, Timestamp)],
         state: GroupState[SeqPaneState]) =>
          val winStart = kw._2
          val windowEnd = winStart + windowMs
          val sparkWm = state.getCurrentWatermarkMs()
          val beamWm = sparkWm + delayMs
          // timer targets on the delayed-watermark clock; Spark fires a
          // timer once sparkWm passes it, so beamWm crosses windowEnd /
          // windowEnd+lateness at exactly these instants
          val onTimeAt = windowEnd - delayMs // == winStart - latenessMs
          val expireAt = winStart            // == windowEnd + latenessMs - delayMs
          if (state.hasTimedOut) {
            val prev = state.get
            if (prev.onTimeFired) {
              // lateness-expiry timer: GC the window, emit nothing
              state.remove()
              Iterator.empty
            } else {
              // the orFinally(AfterWatermark.pastEndOfWindow) firing: the
              // watermark crossed window end with no new rows this
              // trigger — ON_TIME pane, delta 0, cumulative unchanged
              val pane = Pane(kw._1, new Timestamp(winStart), 0L,
                prev.total, prev.paneIndex, "ON_TIME")
              if (sparkWm >= expireAt) {
                // single-jump corner: the watermark crossed window end AND
                // end+lateness in one advance — fire the final ON_TIME
                // pane (Beam fires the pending on-time pane at window
                // expiry) and GC immediately; later stragglers hit the
                // expiry discard below
                state.remove()
              } else {
                state.update(SeqPaneState(prev.total, prev.paneIndex + 1,
                  onTimeFired = true))
                state.setTimeoutTimestamp(math.max(expireAt, sparkWm + 1))
              }
              Iterator.single(pane)
            }
          } else if (beamWm >= windowEnd + latenessMs) {
            // data for an expired window: discard (Beam drops past allowed
            // lateness) and GC any state the pending expiry timer hasn't
            // collected yet
            if (state.exists) state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(
              SeqPaneState(0L, 0, onTimeFired = false))
            val delta = rows.size.toLong
            val cum = prev.total + delta
            val timing =
              if (prev.onTimeFired) "LATE"
              else if (beamWm < windowEnd) "EARLY"
              else "ON_TIME"
            val fired = prev.onTimeFired || timing != "EARLY"
            state.update(SeqPaneState(cum, prev.paneIndex + 1, fired))
            // EARLY: arm the ON_TIME timer so the end-of-window firing is
            // guaranteed; once fired: arm the lateness-expiry GC timer
            state.setTimeoutTimestamp(
              math.max(if (!fired) onTimeAt else expireAt, sparkWm + 1))
            Iterator.single(Pane(kw._1, new Timestamp(winStart), delta, cum,
              prev.paneIndex, timing))
          }
      }
  }

  // ---------------------------------------------------------------------
  // W10 (exact per-pane cadence — round 20, r19 verdict item 7, closing
  // SURVEY §7.4 risk 1's last documented relaxation): the reference
  // LeaderBoard trigger (`LeaderBoard.scala:186-196`):
  //   AfterWatermark.pastEndOfWindow()
  //     .withEarlyFirings(AfterProcessingTime.pastFirstElementInPane()
  //       .plusDelayOf(FIVE_MINUTES))
  //     .withLateFirings(AfterProcessingTime.pastFirstElementInPane()
  //       .plusDelayOf(TEN_MINUTES))
  //   with accumulatingFiredPanes + withAllowedLateness.
  // Exact Beam cadence: an EARLY pane fires `earlyDelayMs` of
  // PROCESSING time after the FIRST element of that pane arrived —
  // elements landing during the delay ride the same pane (the W13/W14
  // `panedCounts` shape, which fires once per trigger-with-data, cannot
  // express this coalescing); exactly one ON_TIME pane fires when the
  // watermark crosses window end (delta 0 allowed); LATE panes fire
  // `lateDelayMs` after the first late element of each late pane; at
  // window expiry (end + lateness) a final pane fires iff data is
  // pending (Beam's FIRE_IF_NON_EMPTY closing behavior, timed ON_TIME
  // if the watermark jumped the on-time firing entirely), then state is
  // GC'd and later stragglers are discarded.
  //
  // Mechanics. ProcessingTimeTimeout supplies the per-pane cadence
  // timer (armed at firstElementProcTime + delay — fires even when no
  // further data arrives for the key). Watermark crossings (ON_TIME,
  // expiry) are checked on every invocation against
  // `state.getCurrentWatermarkMs()`: with ProcessingTimeTimeout Spark
  // does NOT pre-filter late input rows (that filter is
  // EventTimeTimeout-only — see the W12 notes above), so a 0 ms stream
  // watermark IS the Beam watermark and within-lateness rows reach the
  // function with no W12-style delayed-watermark contortion. Between
  // cadence targets a `pollMs` timer bounds crossing-detection lag —
  // the bundle-boundary granularity a Beam runner has. Scale contract:
  // one shuffle on (key, window), one state row + one timer per live
  // window, state GC'd at expiry.

  /** (pane_first_proc_ms, fired_proc_ms) ride the pane so tests and
    * audits can verify the cadence arithmetic (fired - first >= delay
    * for EARLY/LATE panes) — the exactness W10 previously documented
    * away.
    */
  case class CadencePane(key: String, windowStart: Timestamp, delta: Long,
                         cumulative: Long, paneIndex: Int, timing: String,
                         paneFirstProcMs: Long, firedProcMs: Long)

  case class CadenceState(total: Long, pending: Long, paneIndex: Int,
                          onTimeFired: Boolean, paneFirstProcMs: Long)

  /** W10 exact early/late firing cadence over tumbling windows. Input
    * df needs `key` and timestamp `ts`.
    */
  def cadencedPanes(df: DataFrame, windowMs: Long, latenessMs: Long,
                    earlyDelayMs: Long, lateDelayMs: Long,
                    pollMs: Long = 500L)
                   (implicit spark: org.apache.spark.sql.SparkSession)
      : Dataset[CadencePane] = {
    import spark.implicits._
    implicit val stateEnc: Encoder[CadenceState] =
      Encoders.product[CadenceState]
    df.withWatermark("ts", "0 milliseconds")
      .select(col("key"),
        (unix_millis(col("ts")) - pmod(unix_millis(col("ts")), lit(windowMs)))
          .as("win_start_ms"),
        col("ts"))
      .as[(String, Long, Timestamp)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[CadenceState, CadencePane](
        OutputMode.Update(), GroupStateTimeout.ProcessingTimeTimeout()) {
        (kw: (String, Long), rows: Iterator[(String, Long, Timestamp)],
         state: GroupState[CadenceState]) =>
          val winStart = kw._2
          val windowEnd = winStart + windowMs
          val expiry = windowEnd + latenessMs
          val wm = state.getCurrentWatermarkMs() // == Beam watermark
          val now = state.getCurrentProcessingTimeMs()
          val newRows = if (state.hasTimedOut) 0L else rows.size.toLong
          if (wm >= expiry) {
            // window expired: flush a pending pane (FIRE_IF_NON_EMPTY;
            // ON_TIME if the watermark jumped end and end+lateness in
            // one advance), GC, and discard any straggler rows
            if (state.exists) {
              val prev = state.get
              state.remove()
              if (prev.pending > 0 || !prev.onTimeFired)
                Iterator.single(CadencePane(kw._1, new Timestamp(winStart),
                  prev.pending, prev.total + prev.pending, prev.paneIndex,
                  if (prev.onTimeFired) "LATE" else "ON_TIME",
                  prev.paneFirstProcMs, now))
              else Iterator.empty
            } else Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(
              CadenceState(0L, 0L, 0, onTimeFired = false, -1L))
            // the pane's first-element clock starts at the arrival of
            // the first element since the last firing
            val pending = prev.pending + newRows
            val paneFirst =
              if (prev.paneFirstProcMs >= 0L) prev.paneFirstProcMs
              else if (newRows > 0) now
              else -1L
            val delay = if (prev.onTimeFired) lateDelayMs else earlyDelayMs
            val (fired, timing): (Boolean, String) =
              if (!prev.onTimeFired && wm >= windowEnd) (true, "ON_TIME")
              else if (paneFirst >= 0L && now >= paneFirst + delay)
                (true, if (prev.onTimeFired) "LATE" else "EARLY")
              else (false, "")
            val next =
              if (fired)
                CadenceState(prev.total + pending, 0L, prev.paneIndex + 1,
                  prev.onTimeFired || timing != "EARLY", -1L)
              else CadenceState(prev.total, pending, prev.paneIndex,
                prev.onTimeFired, paneFirst)
            state.update(next)
            // next wake-up: the open pane's cadence target if one is
            // pending, bounded by the poll tick that detects ON_TIME /
            // expiry crossings without data
            val cadenceAt =
              if (next.paneFirstProcMs >= 0L)
                next.paneFirstProcMs +
                  (if (next.onTimeFired) lateDelayMs else earlyDelayMs)
              else Long.MaxValue
            val wake = math.min(cadenceAt, now + pollMs)
            state.setTimeoutDuration(math.max(1L, wake - now))
            if (fired)
              Iterator.single(CadencePane(kw._1, new Timestamp(winStart),
                pending, prev.total + pending, prev.paneIndex, timing,
                paneFirst, now))
            else Iterator.empty
          }
      }
  }

  // ---------------------------------------------------------------------
  // W16/J6: window-aligned spam filter (reference GameStats,
  // `GameStats.scala:102-130,184-192`): per fixed window, users whose
  // total score exceeds `mult` × the window's mean user-total are
  // spammers; team scores are computed from NON-spammer events (the
  // documented anti-join — the reference port's code inverted it, SURVEY
  // §2.5 J6).

  /** Pure DataFrame => DataFrame; run per-microbatch via `foreachBatch`
    * in streaming (both aggregates derive from the same window of the
    * same source, so batch alignment is exact) or directly in batch.
    */
  def spamFilteredTeamScores(events: DataFrame, tsCol: String,
                             windowDur: String, mult: Double): DataFrame = {
    val userWindowTotals = events
      .groupBy(window(col(tsCol), windowDur).as("w"), col("user_id"))
      .agg(sum(col("value")).as("user_total"))
    val spammers = userWindowTotals
      .groupBy(col("w"))
      .agg(avg(col("user_total")).as("mean_total"))
      .join(userWindowTotals, "w")
      .filter(col("user_total") > col("mean_total") * lit(mult))
      .select(col("w"), col("user_id"))
    events
      .withColumn("w", window(col(tsCol), windowDur))
      .join(spammers, Seq("w", "user_id"), "left_anti")
      .groupBy(col("w"), col("team"))
      .agg(sum(col("value")).as("team_total"))
      .select(col("w.start").as("w_start"), col("team"), col("team_total"))
  }

  /** Continuous exact dedup over an unbounded document stream — the
    * ingest-side twin of the batch d1/d8 keep rule. The first document
    * with a given content digest passes; later copies are dropped as
    * long as they arrive within `horizon` of the watermark. State is one
    * (digest, first-seen ts) entry per distinct document inside the
    * horizon, expired by the watermark — bounded regardless of stream
    * length, shuffled only on the digest (RocksDB state store at scale).
    *
    * Exactly Spark's `dropDuplicatesWithinWatermark` contract: duplicates
    * separated by more than the horizon are NOT deduped (by design —
    * unbounded lookback would mean unbounded state); batch d1 is the
    * periodic full-corpus pass that catches those.
    */
  def streamingDedup(docs: DataFrame, tsCol: String, textCol: String,
                     horizon: String): DataFrame = {
    // withColumn silently REPLACES an existing column — fail fast
    // instead of corrupting a caller's "digest" field (the output DOES
    // carry the computed digest, so the name is part of the contract)
    require(!docs.columns.contains("digest"),
      "streamingDedup: input already has a 'digest' column; rename it first")
    docs
      .withWatermark(tsCol, horizon)
      .withColumn("digest", md5(col(textCol).cast("binary")))
      .dropDuplicatesWithinWatermark("digest")
  }

  /** Streaming ingest CURATION — the batch d8/x8 quality gates running
    * unchanged on an unbounded stream (rowwise codegen'd expressions
    * need no streaming adaptation), then watermark-bounded exact dedup:
    * keep docs with `n_tokens` in [minTokens, maxTokens] and a
    * duplicate-token fraction ≤ maxDupFrac, drop content-digest copies
    * arriving within `horizon`. The only state is the dedup digest map;
    * the gates add zero state and zero shuffle at any scale.
    */
  def streamingCurate(docs: DataFrame, tsCol: String, textCol: String,
                      minTokens: Int, maxTokens: Int, maxDupFrac: Double,
                      horizon: String): DataFrame = {
    require(minTokens >= 1, "minTokens >= 1 (guards the dup-frac division)")
    // reserved working name — withColumn would silently replace a
    // caller's column and the trailing drop would then delete their data
    require(!docs.columns.contains("__rep"),
      "streamingCurate: input already has a '__rep' column; rename it first")
    val kept = docs
      .withColumn("__rep", explode(array(
        graft.functions.RepetitionStatsExpr.repetitionStats(col(textCol)))))
      .filter(col("__rep.n_tokens").between(minTokens, maxTokens) &&
        (lit(1.0) - col("__rep.n_distinct").cast("double") / col("__rep.n_tokens"))
          <= maxDupFrac)
      .drop("__rep")
    streamingDedup(kept, tsCol, textCol, horizon)
  }

  case class BandRow(band: String, docId: Long, ts: Timestamp)
  case class BandOwner(ownerId: Long, lastTsMs: Long)
  case class BandVerdict(docId: Long, ts: Timestamp, hit: Long, owner: Long)

  /** STREAMING NEAR-dup filter — `streamingDedup`'s MinHash sibling:
    * the online form of the batch d3 LSH path, for ingest pipelines
    * that must flag near-duplicates (not just byte-identical copies) as
    * documents arrive. Band keys are computed ROWWISE
    * ([[graft.queries.Dedup.rowwiseBandKeys]] — bit-identical to the
    * batch signatures, which is what the symmetry spec asserts), then
    * ONE `flatMapGroupsWithState` keyed on the band claims each band
    * for its first-seen doc and emits a hit for every later doc landing
    * on an owned band within `horizonMs`; a downstream per-(doc, ts)
    * aggregation folds the per-band verdicts into
    * `(doc_id, ts, n_band_hits, dup_of)` — `dup_of` = the smallest
    * owning doc, NULL for novel docs. Expiry is two-layered: the data
    * path re-claims a band whose owner has fallen `horizonMs` behind
    * the watermark (state may linger until a quiet batch), and
    * EventTimeTimeout GCs silent bands — state is bounded by the bands
    * seen per horizon, sharded across the cluster by band key. Docs
    * with no shingles (< 3 tokens) produce no bands and no output row;
    * union them back as trivially-novel if needed. Results for a doc
    * emit once the watermark passes its event time.
    *
    * Spark's static multi-stateful-operator check rejects EVERY
    * fmgws → aggregation chain, because an arbitrary fmgws could emit
    * event times older than the watermark (late for the downstream
    * agg). This one cannot: every verdict carries its input row's `ts`
    * UNCHANGED, input rows are already watermark-filtered, and timeout
    * processing emits nothing — so no emitted row can be late for the
    * identical downstream watermark. The operator therefore disables
    * `statefulOperator.checkCorrectness` on the session (the check is
    * static, not per-query, so this is the supported escape hatch).
    */
  def streamingNearDedup(docs: DataFrame, tsCol: String, idCol: String,
                         textCol: String, horizonMs: Long)
                        (implicit spark: org.apache.spark.sql.SparkSession)
      : DataFrame = {
    import spark.implicits._
    spark.conf.set(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled",
      "false") // safe: see the scaladoc invariant
    val bands = docs
      .select(col(idCol).cast("long").as("docId"), col(tsCol).as("ts"),
        explode(graft.queries.Dedup.rowwiseBandKeys(col(textCol)))
          .as("band"))
      .withWatermark("ts", s"$horizonMs milliseconds")
      .select($"band", $"docId", $"ts").as[BandRow]
    bandOwnerVerdicts(bands, horizonMs)
  }

  /** STREAMING IMAGE near-dedup — [[streamingNearDedup]]'s multimodal
    * sibling: band keys are the 4×16-bit slices of the decoded image's
    * 64-bit dHash (the batch `Multimodal.imageNearDupPairs` blocking
    * key, bit-identical), computed in a typed flatMap — one decode per
    * frame, undecodable payloads drop (the P13 tolerant shape, so a
    * corrupt upload can never wedge the stream). The band-owner state
    * machine, expiry layers, and per-image verdict fold are SHARED with
    * the text path ([[bandOwnerVerdicts]] — one definition); at ingest
    * scale the state is bounded by distinct band values seen per
    * horizon and pixels never enter the state store — only the 20-byte
    * band rows do.
    */
  def streamingImageDedup(media: DataFrame, tsCol: String, idCol: String,
                          payloadCol: String, horizonMs: Long)
                         (implicit spark: org.apache.spark.sql.SparkSession)
      : DataFrame =
    streamingPerceptualDedup(media, tsCol, idCol, payloadCol, horizonMs,
      payload => graft.multimodal.Multimodal.ImageCodec.decode(payload)
        .map(graft.multimodal.Multimodal.ImageCodec.dHashOf))

  /** STREAMING AUDIO near-dedup — same machine, hash = the
    * amplitude-invariant envelope dHash (`Multimodal.AudioCodec.dHash`,
    * the batch `audioNearDupPairs` blocking key bit-identical), so a
    * volume-scaled re-upload hits all 4 owned bands at ingest time.
    */
  def streamingAudioDedup(media: DataFrame, tsCol: String, idCol: String,
                          payloadCol: String, horizonMs: Long)
                         (implicit spark: org.apache.spark.sql.SparkSession)
      : DataFrame =
    streamingPerceptualDedup(media, tsCol, idCol, payloadCol, horizonMs,
      payload => graft.multimodal.Multimodal.AudioCodec.decode(payload)
        .map(d => graft.multimodal.Multimodal.AudioCodec.dHashOf(d._2)))

  /** STREAMING VIDEO near-dedup — same machine, hash = the
    * temporal-mean-luma dHash (`Multimodal.VideoCodec.dHashOf`, the
    * batch `videoNearDupPairs` blocking key bit-identical), so a
    * re-encoded clip hits all 4 owned bands at ingest time. One demux +
    * decode per clip in the flatMap; frames never enter the state
    * store — only the 20-byte band rows do.
    */
  def streamingVideoDedup(media: DataFrame, tsCol: String, idCol: String,
                          payloadCol: String, horizonMs: Long)
                         (implicit spark: org.apache.spark.sql.SparkSession)
      : DataFrame =
    streamingPerceptualDedup(media, tsCol, idCol, payloadCol, horizonMs,
      payload => graft.multimodal.Multimodal.VideoCodec.decodeFrames(payload)
        .map(graft.multimodal.Multimodal.VideoCodec.dHashOf))

  /** STREAMING IVF INGEST — the streaming side of the v19/v20 index
    * maintenance loop: arriving vectors are assigned to the FROZEN
    * centroids in a stateless typed map (the kmeansAssign JIT argmax —
    * strict > keeps the smallest cid on ties, bit-identical to the
    * batch v19 assignment), then a watermark-bounded tumbling window
    * aggregates per-cell arrivals and mean cosine-to-centroid — the
    * live drift signal v20 computes in batch. State is the windowed agg
    * only (≤ cells × open windows rows); embeddings never enter the
    * state store. A monitor alerts when a cell's windowed mean_csim
    * falls below its v20 base mean.
    */
  def streamingIvfIngest(vectors: DataFrame, tsCol: String, idCol: String,
                         embCol: String, cents: Array[(Long, Array[Float])],
                         windowDur: String, lateness: String)
                        (implicit spark: org.apache.spark.sql.SparkSession)
      : DataFrame = {
    import spark.implicits._
    val sorted = cents.sortBy(_._1)
    val assigned = vectors
      .select(col(tsCol).as("ts"), col(idCol).cast("long").as("vec_id"),
        col(embCol).as("embedding"))
      .as[(Timestamp, Long, Array[Float])]
      .map { case (ts, id, e) =>
        var best = Double.NegativeInfinity
        var bestC = sorted.head._1
        var i = 0
        while (i < sorted.length) {
          val c = graft.functions.VectorFunctions.cosineJvm(e, sorted(i)._2)
          if (c > best) { best = c; bestC = sorted(i)._1 }
          i += 1
        }
        (ts, id, bestC, best)
      }
      .toDF("ts", "vec_id", "cid", "csim")
    assigned
      .withWatermark("ts", lateness)
      .groupBy(window($"ts", windowDur).as("w"), $"cid")
      .agg(count(lit(1)).as("n"),
        sum(round($"csim", 9).cast("decimal(28,12)")).as("s9"))
      .select($"w.start".as("w_start"), $"cid", $"n",
        round($"s9".cast("double") / $"n", 6).as("mean_csim"))
  }

  /** The shared perceptual-hash streaming dedup front: decode+hash in a
    * typed flatMap (one decode per frame; undecodable payloads drop —
    * the P13 tolerant shape, a corrupt upload can never wedge the
    * stream), band the 64-bit hash 4×16 bit-identically to the batch
    * blocking keys, and feed the SAME band-owner state machine as the
    * text path. Payloads never enter the state store — only the
    * ~20-byte band rows do.
    */
  private def streamingPerceptualDedup(media: DataFrame, tsCol: String,
      idCol: String, payloadCol: String, horizonMs: Long,
      hashOf: Array[Byte] => Option[Long])
      (implicit spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    spark.conf.set(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled",
      "false") // safe: the bandOwnerVerdicts invariant (scaladoc above)
    val bands = media
      .select(col(idCol).cast("long").as("docId"), col(tsCol).as("ts"),
        col(payloadCol).as("payload"))
      .as[(Long, Timestamp, Array[Byte])]
      .flatMap { case (id, ts, payload) =>
        hashOf(payload).toSeq.flatMap { h =>
          (0 until 4).map(b =>
            BandRow(s"$b|${(h >>> (b * 16)) & 0xffffL}", id, ts))
        }
      }
      .withWatermark("ts", s"$horizonMs milliseconds")
    bandOwnerVerdicts(bands, horizonMs)
  }

  /** The shared band-owner dedup core: first-seen doc claims each band,
    * later docs landing on an owned band within `horizonMs` get a hit,
    * per-(doc, ts) fold emits (doc_id, ts, n_band_hits, dup_of). See
    * [[streamingNearDedup]] for the expiry and watermark-safety
    * doctrine.
    */
  private def bandOwnerVerdicts(bands: Dataset[BandRow], horizonMs: Long)
      (implicit spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    val verdicts = bands.groupByKey(_.band)
      .flatMapGroupsWithState[BandOwner, BandVerdict](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: String, rows: Iterator[BandRow], state: GroupState[BandOwner]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val wm = state.getCurrentWatermarkMs()
            // deterministic within-batch order: event time, then id
            val sorted = rows.toSeq.sortBy(r => (r.ts.getTime, r.docId))
            val out = List.newBuilder[BandVerdict]
            var owner = state.getOption
              // data-path expiry: a stale owner no longer blocks claims
              .filter(_.lastTsMs + horizonMs > wm)
            sorted.foreach { r =>
              owner match {
                case Some(o) =>
                  out += BandVerdict(r.docId, r.ts,
                    if (r.docId == o.ownerId) 0L else 1L, o.ownerId)
                  owner = Some(o.copy(
                    lastTsMs = math.max(o.lastTsMs, r.ts.getTime)))
                case None =>
                  owner = Some(BandOwner(r.docId, r.ts.getTime))
                  out += BandVerdict(r.docId, r.ts, 0L, r.docId)
              }
            }
            owner.foreach { o =>
              state.update(o)
              state.setTimeoutTimestamp(
                math.max(o.lastTsMs + horizonMs, wm + 1))
            }
            out.result().iterator
          }
      }
    verdicts.toDF()
      .withWatermark("ts", s"$horizonMs milliseconds")
      .groupBy($"docId".as("doc_id"), $"ts")
      .agg(sum($"hit").as("n_band_hits"),
        min(when($"hit" === 1, $"owner")).as("dup_of"))
  }

  /** Streaming AutoComplete, step 1 — the reference pipeline's streaming
    * mode (`AutoComplete.scala:73-86`: `isStreaming` swaps GlobalWindows
    * for SlidingWindows over the same graph): sliding-window word counts
    * that close via the watermark, append-safe. Step 2 is
    * [[rankWindowPrefixes]] in `foreachBatch` — each microbatch carries
    * only CLOSED (window, word) rows, so the ranking runs the exact
    * batch transform per window and no rank state ever accumulates.
    * State: the windowed count aggregate, watermark-bounded.
    */
  def windowedWordCounts(words: DataFrame, tsCol: String, wordCol: String,
                         windowDur: String, slideDur: String,
                         lateness: String): DataFrame =
    words
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowDur, slideDur).as("w"),
        col(wordCol).as("word"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("word"), col("n"))

  /** Streaming AutoComplete, step 2: per-window flat prefix top-k over
    * closed-window counts — the IDENTICAL explode+rank shape as the
    * batch `PrefixTopK.flat`, with the window joined into the ranking
    * key (one shuffle on (window, prefix)). A pure batch transform:
    * `foreachBatch` applies it to each closed-window microbatch, and the
    * batch↔stream identity is spec-asserted against `PrefixTopK.flat`.
    */
  def rankWindowPrefixes(counts: DataFrame, maxPrefix: Int,
                         k: Int): DataFrame = {
    val prefixed = counts.select(col("w_start"),
      explode(transform(
        sequence(lit(1), least(length(col("word")), lit(maxPrefix))),
        i => col("word").substr(lit(1), i))).as("prefix"),
      col("word"), col("n"))
    graft.operators.KeyedOps.topKPerKey(prefixed,
      Seq(col("w_start"), col("prefix")),
      Seq(col("n").desc, col("word").desc), k)
  }

  /** STREAM-STREAM attribution join — j10's streaming sibling and the
    * one Structured Streaming join kind the rest of the engine doesn't
    * exercise: purchases matched to SAME-USER views that happened at
    * most `horizon` before them, both sides unbounded. The equi-key
    * (user_id) plus the event-time RANGE predicate is what makes this
    * tractable at scale: Spark buffers each side in the state store
    * keyed on user, and the watermark + range bound let it GC a
    * buffered view once no future purchase can reach back to it
    * (state ∝ per-user events inside one horizon, not the stream).
    * Inner join: a purchase with no in-horizon view emits nothing —
    * attribution, not enrichment. Both inputs must carry event-time
    * columns named `ts` (view side) / `p_ts` (purchase side).
    */
  def attributionJoin(views: DataFrame, purchases: DataFrame,
                      horizon: String): DataFrame = {
    val v = views
      .select(col("user_id"), col("ts").as("v_ts"))
      .withWatermark("v_ts", horizon)
    val p = purchases
      .select(col("user_id"), col("p_ts"), col("amount"))
      .withWatermark("p_ts", horizon)
    p.join(v,
      p("user_id") === v("user_id") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr(s"INTERVAL $horizon"),
      "inner")
      .select(p("user_id"), col("v_ts"), col("p_ts"), col("amount"))
  }
}
