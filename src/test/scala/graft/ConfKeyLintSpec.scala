package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Conf-key lint: the engine reads a fixed, shrinking set of settings.
  * Every string literal in `src/main/scala` that starts with a
  * `spark.graft.` / `graft.` key or a `SPARK_GRAFT_` env name must be on
  * the allowlist, so a plan-shape or tuning switch cannot grow back
  * unnoticed. An allowlisted name that no source reads any more fails
  * too, so the list only shrinks. A literal that names a class (the
  * `"graft.core.GraftExtensions"` session extension) is not a setting.
  */
class ConfKeyLintSpec extends AnyFunSuite {

  private val allowed = Set(
    "spark.graft.checkpointDir", // deployment path for reliable CC rounds
    "graft.d4.maxPairs", "graft.d5.maxVectors", // refusal caps
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_CHECKPOINT_DIR", "SPARK_GRAFT_CONF")

  private val setting =
    "\"((?:spark\\.)?graft\\.[A-Za-z0-9_.]*[A-Za-z0-9_]|SPARK_GRAFT_[A-Z0-9_]*)".r

  private def isClass(name: String): Boolean = Seq(name, name + "$").exists { n =>
    try { Class.forName(n, false, getClass.getClassLoader); true }
    catch { case _: ClassNotFoundException => false }
  }

  test("src/main reads only allowlisted graft conf keys and env names " +
      "(shrink-only allowlist)") {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "run from the repository root")
    val read = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      m <- setting.findAllMatchIn(line)
      if !isClass(m.group(1))
    } yield (m.group(1), s"$f:${i + 1}")
    val unknown = read.filterNot(r => allowed(r._1))
    assert(unknown.isEmpty, "settings outside the allowlist:\n" +
      unknown.map { case (name, at) => s"$at $name" }.mkString("\n"))
    val cured = allowed -- read.map(_._1)
    assert(cured.isEmpty, s"no longer read — remove from the allowlist: $cured")
  }
}
