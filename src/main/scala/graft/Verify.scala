package graft
import graft.core.{GraftSession, GuardRefusal}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}

/** The all-query pass: each SparkEntry.queries result → one parquet dir
  * per query, plus `oracle_sql.json` for the DuckDB compare
  * (tools/oracle_check.py) and `verify.json`, the run's record:
  *   - `queries`: name → seconds to materialize and write the whole
  *     result, or -1 on a failure or refusal;
  *   - `failed`:  name → `Class: first message line`;
  *   - `refused`: name → a capacity guard's [[GuardRefusal]] message;
  *   - `codegen`: `classes` (name → classes Spark compiled while the
  *     query ran) and `total`, the pass's sum: the generated-code
  *     working set that `GraftSession.CodegenCacheEntries` must hold.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [name ...]
  * (`SPARK_GRAFT_CPUS` sizes the session, default 4).
  */
object Verify {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  // private[graft]: the one JSON string escaper (CCAttestation reuses it).
  private[graft] def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The registry's oracle SQL as one JSON object — shared by this
    * main's dump and tools (D4SliceProof) that must produce a
    * d4_slice_check.py-readable oracle_sql.json.
    */
  def oracleJson(selected: String => Boolean = _ => true): String =
    SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")

  /** One query's outcome in the record. */
  sealed trait Outcome
  final case class Done(seconds: Double) extends Outcome
  final case class Refused(message: String) extends Outcome
  final case class Failed(cause: String) extends Outcome

  /** `Class: first message line` — never the bare `null` that
    * `getMessage` gives for many exceptions.
    */
  private[graft] def causeOf(e: Throwable): String =
    Option(e.getMessage).flatMap(_.linesIterator.nextOption())
      .fold(e.getClass.getName)(l => s"${e.getClass.getName}: $l")

  /** Runs one registry query and writes its whole result to
    * `<outDir>/<name>`, timing the write. A [[GuardRefusal]] anywhere
    * in the cause chain is a refusal by design; any other throwable is
    * a failure.
    */
  def outcome(spark: SparkSession, sfDir: String, outDir: String)(
      name: String, fn: (SparkSession, String) => DataFrame): Outcome = {
    val t0 = System.nanoTime()
    // repartition(1), NOT coalesce(1) (round 18): coalesce folds the
    // ENTIRE upstream compute into the single writer task — at the
    // 100x fixture that serialized per-doc map pipelines and the d5
    // grid onto one core for tens of minutes each. The explicit
    // shuffle keeps compute parallel and only the final write
    // single-tasked (the dump stays one file per query for DuckDB).
    try {
      fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      Done((System.nanoTime() - t0) / 1e9)
    } catch {
      case GuardRefusal(msg) => Refused(msg)
      case e: Throwable => Failed(causeOf(e))
    }
  }

  /** Classes compiled so far in this JVM: every whole-stage and
    * expression class that missed Spark's codegen cache.
    */
  private[graft] def compiledClasses(): Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** `verify.json`: the outcomes and the per-query compiled-class
    * counts as one JSON object, names sorted.
    */
  def record(outcomes: Seq[(String, Outcome)],
             compiled: Seq[(String, Long)] = Nil): String = {
    val sorted = outcomes.sortBy(_._1)
    def obj(kvs: Seq[(String, String)]): String =
      kvs.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")
    val secs = sorted.map {
      case (k, Done(s)) => k -> "%.3f".formatLocal(java.util.Locale.ROOT, s)
      case (k, _) => k -> "-1"
    }
    val failed = sorted.collect { case (k, Failed(c)) => k -> q(c) }
    val refused = sorted.collect { case (k, Refused(m)) => k -> q(m) }
    val classes = compiled.sortBy(_._1).map { case (k, n) => k -> n.toString }
    s"""{"queries": ${obj(secs)},\n "failed": ${obj(failed)},\n""" +
      s""" "refused": ${obj(refused)},\n""" +
      s""" "codegen": {"classes": ${obj(classes)}, """ +
      s""""total": ${compiled.map(_._2).sum}}}""" + "\n"
  }

  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir), only) = (args.take(2), args.drop(2).toSet)
    def selected(name: String): Boolean = only.isEmpty || only(name)
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "graft-verify")
    new java.io.File(outDir).mkdirs()
    val runs = SparkEntry.queries.toSeq.filter(kv => selected(kv._1))
      .map { case (name, fn) =>
        val before = compiledClasses()
        val o = outcome(spark, sfDir, outDir)(name, fn)
        o match {
          case Failed(c) => System.err.println(s"[verify] $name failed: $c")
          case Refused(m) => System.err.println(s"[verify] $name refused: $m")
          case Done(_) =>
        }
        (name -> o, name -> (compiledClasses() - before))
      }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(selected))
    Files.writeString(Paths.get(s"$outDir/verify.json"),
      record(runs.map(_._1), runs.map(_._2)))
    spark.stop()
  }
}
