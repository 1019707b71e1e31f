package beambench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.core.GraftSession
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Engine-side harness: one JVM per benchmark run.
  *
  * `run.py` writes a params JSON (workload, inputs, op order, pass count,
  * trace flag) and launches this main with it. The harness starts the
  * session, warms up on a small input, then runs the timed window and
  * writes a result JSON. It speaks to `run.py` through marker lines on
  * stdout, so the launcher can sample the host around the window:
  *
  *   `@@ window_start`  setup is over; the first timed op starts next
  *   `@@ drain_done`    (gaming-stream) start the open-loop generator,
  *                      then write one line to stdin when it has finished
  *   `@@ window_end`    the timed window is over
  *
  * Listeners are registered only when `trace` is true.
  */
object Main {
  val mapper = new ObjectMapper()

  final case class OpResult(name: String, group: String, pass: Int,
                            ms: Double, cpuMs: Double, error: Option[String])

  /** Everything a workload needs from the harness. */
  final class Ctx(val spark: SparkSession, val params: JsonNode,
                  val trace: Option[Trace],
                  val out: ObjectNode = mapper.createObjectNode()) {
    val ops = scala.collection.mutable.ArrayBuffer.empty[OpResult]

    /** Runs one timed op; an exception fails the op, not the run. */
    def op(name: String, group: String, pass: Int)(body: => Unit): Unit = {
      trace.foreach(_.beginOp())
      val cpu0 = processCpuNs()
      val t0 = System.nanoTime()
      val err = try { body; None } catch { case e: Throwable => Some(describe(e)) }
      val ms = (System.nanoTime() - t0) / 1e6
      val cpuMs = (processCpuNs() - cpu0) / 1e6
      trace.foreach(_.endOp(name, group, ms))
      ops += OpResult(name, group, pass, ms, cpuMs, err)
    }

    def str(key: String): String = params.get(key).asText
    def int(key: String): Int = params.get(key).asInt
    def strings(key: String): Seq[String] =
      params.get(key).elements().asScala.map(_.asText).toSeq
  }

  /** Runs `body`, logging its wall time to stderr (the engine log). */
  def logged[T](what: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally System.err.println(f"[beambench] $what: ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  /** A failure's class and the first line of its message. */
  def describe(e: Throwable): String =
    s"${e.getClass.getName}: " +
      Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")

  def marker(s: String): Unit = { println(s"@@ $s"); Console.out.flush() }

  def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  private def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val params = mapper.readTree(new java.io.File(args(0)))
    val resultPath = params.get("result").asText
    val workload: Workload = params.get("workload").asText match {
      case "beam-pipelines" => BeamPipelines
      case "registry-mix" => RegistryMix
      case "self-test" => GuardSelfTest
      case "archive" => ClassArchive
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val t0 = System.nanoTime()
    val spark = GraftSession.local(params.get("cores").asInt, "beambench")
    val sessionStartS = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[beambench] session start: $sessionStartS%.2f s")
    val warmCtx = new Ctx(spark, params, None)
    workload.warmUp(warmCtx)
    // listeners only in a traced run, and only from the window on
    val trace =
      if (params.get("trace").asBoolean) Some(new Trace(spark)) else None
    val ctx = new Ctx(spark, params, trace, warmCtx.out)
    // every run's window starts from the same heap: the warm-up's garbage
    // would otherwise be collected part-way through some runs' windows
    System.gc()
    trace.foreach(_.reset())
    val gc0 = gcMs()
    val cpu0 = processCpuNs()
    marker("window_start")
    val w0 = System.nanoTime()
    workload.timed(ctx)
    val windowS = (System.nanoTime() - w0) / 1e9
    val cpuS = (processCpuNs() - cpu0) / 1e9
    val gcWindowMs = gcMs() - gc0
    marker("window_end")

    trace.foreach { t =>
      val layers = t.finish(windowS * 1000.0)
      layers.put("core.session_start_s", sessionStartS)
      layers.put("core.gc_ms", gcWindowMs.toDouble)
      workload.probes(ctx, layers)
      ctx.out.replace("layers", layers)
    }
    workload.afterWindow(ctx)

    val out = ctx.out
    out.put("session_start_s", sessionStartS)
    out.put("window_s", windowS)
    out.put("cpu_s", cpuS)
    out.put("rss_peak_mb", rssPeakMb())
    val opsJson = out.putArray("ops")
    ctx.ops.foreach { o =>
      val n = opsJson.addObject()
      n.put("name", o.name).put("group", o.group).put("pass", o.pass)
        .put("ms", o.ms).put("cpu_ms", o.cpuMs)
      o.error.foreach(n.put("error", _))
    }
    val tmp = new java.io.File(resultPath + ".tmp")
    mapper.writerWithDefaultPrettyPrinter().writeValue(tmp, out)
    java.nio.file.Files.move(tmp.toPath, new java.io.File(resultPath).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // Every output and the result are on disk and the streams are stopped;
    // skipping the shutdown hooks saves seconds per run. The run directory
    // (Spark's temp and checkpoint files included) is pruned by run.py.
    Runtime.getRuntime.halt(0)
  }
}

/** beam-pipelines: the reference batch pipelines, then the LeaderBoard
  * stream, in one JVM. One workload carries both phases because a JVM's
  * start and warm-up cost more than either phase's timed work.
  */
object BeamPipelines extends Workload {
  /** The stream's warm-up runs in the background while the batch one
    * runs; they compile different code.
    */
  def warmUp(ctx: Main.Ctx): Unit = {
    val stream = GamingStream.startWarmUp(ctx)
    BeamBatch.warmUp(ctx)
    GamingStream.finishWarmUp(stream)
  }
  def timed(ctx: Main.Ctx): Unit = { BeamBatch.timed(ctx); GamingStream.timed(ctx) }
  override def probes(ctx: Main.Ctx, layers: ObjectNode): Unit =
    BeamBatch.probes(ctx, layers)
  override def afterWindow(ctx: Main.Ctx): Unit = GamingStream.afterWindow(ctx)
}

/** The run that records the JVM class-data archive at build time: every
  * workload's warm-up, so the classes all of them load are archived.
  */
object ClassArchive extends Workload {
  def warmUp(ctx: Main.Ctx): Unit = {
    BeamPipelines.warmUp(ctx)
    RegistryMix.warmUp(ctx)
  }
  def timed(ctx: Main.Ctx): Unit = ()
}

/** One benchmark workload. `warmUp` is set-up (before the window);
  * `timed` is the measured window; `probes` runs only in a traced
  * run, after the window; `afterWindow` writes what the output checks
  * need and is never timed.
  */
trait Workload {
  def warmUp(ctx: Main.Ctx): Unit
  def timed(ctx: Main.Ctx): Unit
  def probes(ctx: Main.Ctx, layers: ObjectNode): Unit = ()
  def afterWindow(ctx: Main.Ctx): Unit = ()
}
