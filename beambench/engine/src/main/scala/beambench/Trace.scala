package beambench

import com.fasterxml.jackson.databind.node.ObjectNode
import graft.core.PlanWalk
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The traced run's instrumentation: Spark's public listeners, registered
  * from the benchmark's own code and rolled up by repo module.
  *
  *  - `SparkListener`: task CPU, scheduler delay, job spans (driver time is
  *    window wall time not covered by any job), stages that first
  *    materialize a pinned RDD.
  *  - `QueryExecutionListener`: every action's executed plan, walked with
  *    `core.PlanWalk`; SQL metrics are summed by operator kind. A pin's
  *    build plan is walked once, by the action that built it.
  *  - `StreamingQueryListener`: per-trigger progress of the LeaderBoard.
  *
  * It also carries the whole-result guard: during an op it keeps the kinds
  * of operators in the query's own plan and in the timed action's executed
  * plan, and reports any kind the action lacks.
  */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext

  // ---- state, guarded by `this`; reset at the window start ----
  private val sums = mutable.LinkedHashMap.empty[String, Double]
  private var peakMemBytes = 0L
  private val seenMetricIds = mutable.HashSet.empty[Long]
  private val seenCaches = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
  private val seenPinRdds = mutable.HashSet.empty[Int]
  private val jobStarts = mutable.HashMap.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  private var pinBytesPeak = 0L
  private var windowStartMs = 0L
  private var actionKinds: Option[Set[String]] = None
  private var ownKinds: Option[Set[String]] = None
  val guardFailures = mutable.ArrayBuffer.empty[String]

  private def add(key: String, v: Double): Unit = synchronized {
    sums(key) = sums.getOrElse(key, 0.0) + v
  }

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobStarts(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStarts.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && e.taskInfo != null) {
        add("core.task_cpu_s", m.executorCpuTime / 1e9)
        val delay = e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime
        add("core.scheduler_delay_ms", math.max(0L, delay).toDouble)
        if (m.outputMetrics.bytesWritten > 0)
          add("io.write_ms", m.executorRunTime.toDouble)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val pinned = info.rddInfos.filter(_.storageLevel.isValid).map(_.id)
      Trace.this.synchronized {
        val fresh = pinned.filterNot(seenPinRdds.contains)
        if (fresh.nonEmpty) {
          seenPinRdds ++= fresh
          sums("queries.pin_builds") =
            sums.getOrElse("queries.pin_builds", 0.0) + fresh.size
          for (s <- info.submissionTime; c <- info.completionTime)
            sums("queries.pin_build_ms") =
              sums.getOrElse("queries.pin_build_ms", 0.0) + (c - s)
        }
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val plan = qe.executedPlan
      rollUp(plan)
      if (isNoopWrite(plan)) Trace.this.synchronized {
        actionKinds = Some(actionKinds.getOrElse(Set.empty) ++ Trace.kinds(plan))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized { progress += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })

  private def isNoopWrite(plan: SparkPlan): Boolean =
    plan.getClass.getSimpleName.matches("(OverwriteByExpression|AppendData)Exec")

  /** Sums each SQL metric once (by accumulator id) into its layer. */
  private def rollUp(plan: SparkPlan): Unit = PlanWalk.nodes(plan).foreach { node =>
    node match {
      case s: InMemoryTableScanExec =>
        val cache = s.relation.cacheBuilder
        val first = Trace.this.synchronized { seenCaches.add(cache) }
        if (first) rollUp(cache.cachedPlan)
      case _ =>
    }
    val parquet = node match {
      case f: FileSourceScanExec =>
        Some(f.relation.fileFormat.getClass.getSimpleName.contains("Parquet"))
      case _ => None
    }
    node.metrics.foreach { case (name, m) =>
      val fresh = Trace.this.synchronized { seenMetricIds.add(m.id) }
      if (fresh) record(node, parquet, name, m)
    }
  }

  private def record(node: SparkPlan, parquet: Option[Boolean], name: String,
                     m: SQLMetric): Unit = {
    val v = math.max(0L, m.value).toDouble
    val ms = if (m.metricType == "nsTiming") v / 1e6 else v
    (node, name) match {
      case (_: FileSourceScanExec, "filesSize") =>
        add(if (parquet.contains(true)) "core.scan_bytes" else "io.scan_bytes", v)
      case (_: FileSourceScanExec, "scanTime") =>
        if (parquet.contains(true)) add("core.scan_ms", ms)
      case (_: InMemoryTableScanExec, "numOutputRows") =>
        add("queries.pin_read_rows", v)
      case (_: DataWritingCommandExec, "numFiles") => add("io.files_written", v)
      case (_: DataWritingCommandExec, "numOutputBytes") => add("io.write_bytes", v)
      case (_, "shuffleBytesWritten") => add("operators.exchange_bytes", v)
      case (_, "shuffleWriteTime") => add("operators.shuffle_write_ms", ms)
      case (_, "fetchWaitTime") => add("operators.fetch_wait_ms", ms)
      case (_, "aggTime") => add("operators.agg_ms", ms)
      case (_, "sortTime") => add("operators.sort_ms", ms)
      case (_, "buildTime") => add("operators.join_build_ms", ms)
      case (_, "spillSize") => add("operators.spill_bytes", v)
      case (_, "peakMemory") =>
        synchronized { peakMemBytes = math.max(peakMemBytes, m.value) }
      case _ =>
    }
  }

  /** Waits until the listener bus has delivered every posted event.
    * `LiveListenerBus.waitUntilEmpty` is Scala-private but public in
    * bytecode, so it is reached reflectively; a short sleep stands in if
    * it ever moves.
    */
  def drain(): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .fold(Thread.sleep(200L))(m => { m.invoke(bus); () })
    } catch { case _: Throwable => Thread.sleep(200L) }

  def reset(): Unit = {
    drain()
    synchronized {
      sums.clear(); peakMemBytes = 0L; jobSpans.clear(); progress.clear()
      pinBytesPeak = 0L; guardFailures.clear()
      windowStartMs = System.currentTimeMillis()
    }
  }

  // ---- whole-result guard ----

  def beginOp(): Unit = synchronized { actionKinds = None; ownKinds = None }

  /** The query's own executed plan, planned but not run. */
  def expectPlan(df: DataFrame): Unit = {
    val own = Trace.kinds(df.queryExecution.executedPlan)
    synchronized { ownKinds = Some(own) }
  }

  def endOp(name: String, group: String, ms: Double): Unit = {
    add(Trace.opKey(name, group), ms)
    if (ownKinds.nonEmpty) {
      drain()
      val missing = synchronized {
        (ownKinds.get -- actionKinds.getOrElse(Set.empty)).toSeq.sorted
      }
      if (missing.nonEmpty) synchronized {
        guardFailures += s"$name: timed action lacks ${missing.mkString(", ")}"
      }
    }
  }

  def samplePins(): Unit = {
    val bytes = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    synchronized { pinBytesPeak = math.max(pinBytesPeak, bytes) }
  }

  /** The window's per-layer numbers. */
  def finish(windowMs: Double): ObjectNode = {
    drain()
    val out = Main.mapper.createObjectNode()
    synchronized {
      val spans = jobSpans.toSeq
        .map { case (s, e) => (math.max(s, windowStartMs), e) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L
      var curS = -1L
      var curE = -1L
      spans.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) covered += curE - curS
      out.put("core.driver_ms", math.max(0.0, windowMs - covered))
      sums.foreach { case (k, v) => out.put(k, v) }
      out.put("operators.peak_mem_mb", peakMemBytes / 1048576.0)
      out.put("queries.pin_bytes", pinBytesPeak.toDouble)
      streamLayers(out)
      if (guardFailures.nonEmpty) {
        val g = out.putArray("guard_failures")
        guardFailures.foreach(g.add)
      }
    }
    out
  }

  private def streamLayers(out: ObjectNode): Unit = {
    val ps = progress.toSeq.map(_.progress)
    if (ps.isEmpty) return
    def dur(k: String): Double =
      ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
    val trig = ps.map(p => Option(p.durationMs.get("triggerExecution"))
      .map(_.toDouble).getOrElse(0.0)).sorted
    out.put("streaming.triggers", ps.size.toDouble)
    out.put("streaming.trigger_ms_p50", Stats.quantile(trig, 0.5))
    out.put("streaming.query_planning_ms", dur("queryPlanning"))
    out.put("streaming.wal_commit_ms", dur("walCommit"))
    out.put("streaming.commit_offsets_ms", dur("commitOffsets"))
    out.put("streaming.latest_offset_ms", dur("latestOffset"))
    out.put("streaming.add_batch_ms", dur("addBatch"))
    val last = ps.groupBy(_.id).values.map(_.maxBy(_.batchId))
    out.put("streaming.state_rows",
      last.flatMap(_.stateOperators.map(_.numRowsTotal)).sum.toDouble)
    out.put("streaming.state_mem_bytes",
      last.flatMap(_.stateOperators.map(_.memoryUsedBytes)).sum.toDouble)
    out.put("streaming.state_commit_ms",
      ps.flatMap(_.stateOperators.map(_.commitTimeMs)).sum.toDouble)
    out.put("streaming.rows_dropped_late",
      ps.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum.toDouble)
  }
}

object Trace {
  /** Operator kinds a whole-result comparison can rely on: wrappers that
    * adaptive execution adds or removes are skipped, and kinds it may swap
    * at run time (join strategy, exchange type, the local sorts a
    * sort-merge join needs) are folded into one name.
    */
  def kinds(plan: SparkPlan): Set[String] = PlanWalk.nodes(plan).flatMap {
    case _: AdaptiveSparkPlanExec | _: QueryStageExec | _: ReusedExchangeExec |
         _: AQEShuffleReadExec | _: Exchange => None
    case s: org.apache.spark.sql.execution.SortExec =>
      if (s.global) Some("GlobalSort") else None
    case p =>
      val n = p.getClass.getSimpleName.stripSuffix("$")
      if (n.startsWith("WholeStageCodegen") || n == "InputAdapter" ||
          n.contains("ColumnarToRow") || n.contains("RowToColumnar") ||
          n.endsWith("WriteExec") || n.matches("(OverwriteByExpression|AppendData)Exec"))
        None
      else if (n.contains("Join")) Some("Join")
      else if (n.contains("Aggregate")) Some("Aggregate")
      else Some(n)
  }.toSet

  def opKey(name: String, group: String): String = group match {
    case "pipelines" => s"pipelines.${name}_ms"
    case fam => s"queries.${fam}_ms"
  }
}

object Stats {
  /** Linear-interpolated quantile of a sorted sample. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = q * (sorted.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }
}
