package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — sbt
  * forks a single test JVM, so getOrCreate dedupes across suites).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  implicit lazy val sparkImplicit: SparkSession = spark

  /** Runs `body` on the generated-code path and again on the interpreted
    * `eval` path (no whole-stage or expression codegen) — for kernels
    * that implement both.
    */
  def bothEvalPaths(body: => Unit): Unit =
    for ((wholeStage, factory) <- Seq(("true", "CODEGEN_ONLY"),
        ("false", "NO_CODEGEN"))) {
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      spark.conf.set("spark.sql.codegen.factoryMode", factory)
      try body
      finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
}

object SparkSpec {
  lazy val session: SparkSession = graft.core.GraftSession.local(cores = 4, appName = "graft-test")
}
