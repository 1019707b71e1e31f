package graft

import graft.core.GuardRefusal
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `graft.Verify`'s per-query outcome and its `verify.json` record:
  * a success writes the result dir and its seconds, a guard refusal
  * (wherever it sits in the cause chain) is `refused`, anything else is
  * `failed` with its class and first message line — and the record
  * stays valid JSON whatever the names and messages carry.
  */
class VerifySpec extends SparkSpec {

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-verify").toString

  private def parse(json: String) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)

  private def throwing(e: Throwable): (SparkSession, String) => DataFrame =
    (_, _) => throw e

  test("a success writes the parquet dir and records seconds >= 0") {
    val out = tmpDir()
    val o = Verify.outcome(spark, "unused", out)("ok",
      (s, _) => s.range(5).toDF("id"))
    o match {
      case Verify.Done(sec) => assert(sec >= 0.0)
      case other => fail(s"expected Done, got $other")
    }
    assert(spark.read.parquet(s"$out/ok").count() == 5)
    val rec = parse(Verify.record(Seq("ok" -> o)))
    assert(rec.get("queries").get("ok").asDouble() >= 0.0)
    assert(rec.get("failed").size() == 0 && rec.get("refused").size() == 0)
  }

  test("a GuardRefusal two causes deep is recorded as refused") {
    val wrapped = new RuntimeException("outer",
      new IllegalStateException("middle", new GuardRefusal("cap 2e9 exceeded")))
    val o = Verify.outcome(spark, "unused", tmpDir())("d4", throwing(wrapped))
    assert(o == Verify.Refused("cap 2e9 exceeded"))
    val rec = parse(Verify.record(Seq("d4" -> o)))
    assert(rec.get("queries").get("d4").asInt() == -1)
    assert(rec.get("refused").get("d4").asText() == "cap 2e9 exceeded")
    assert(rec.get("failed").size() == 0)
  }

  test("any other throwable is failed with its class and first message line") {
    val out = tmpDir()
    val run = Verify.outcome(spark, "unused", out) _
    assert(run("boom", throwing(new IllegalStateException("first\nsecond"))) ==
      Verify.Failed("java.lang.IllegalStateException: first"))
    // getMessage is null: the class alone, never "null"
    assert(run("npe", throwing(new NullPointerException())) ==
      Verify.Failed("java.lang.NullPointerException"))
    // a failure inside the Spark job, not at plan construction
    val inJob = run("job", (s, _) => s.range(10).selectExpr(
      "assert_true(id < 5, 'planted failure') AS a"))
    inJob match {
      case Verify.Failed(c) => assert(c.contains("planted failure"), c)
      case other => fail(s"expected Failed, got $other")
    }
    assert(!new java.io.File(s"$out/boom").exists())
  }

  test("names and messages with quotes or control chars still parse as JSON") {
    val name = "q\"uo\\te\ttab\u0001"
    val msg = "bad \"value\"\r\n\u0007bell"
    val rec = Verify.record(Seq(
      name -> Verify.Failed(msg),
      "r\"" -> Verify.Refused("cap\u0000"),
      "ok" -> Verify.Done(1.5)))
    val json = parse(rec)
    assert(json.get("failed").get(name).asText() == msg)
    assert(json.get("refused").get("r\"").asText() == "cap\u0000")
    assert(json.get("queries").get(name).asInt() == -1)
    assert(json.get("queries").get("ok").asDouble() == 1.5)
    // the keys go through the same escaper as oracle_sql.json
    assert(rec.contains(Verify.q(name)))
  }
}
