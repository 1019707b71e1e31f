package graft

import graft.core.{GraftSession, Pins}

/** Spark's generated-class cache holds the engine's working set. The
  * session sizes it with `GraftSession.CodegenCacheEntries`, so a second
  * run of the same queries (pins evicted, so every pin rebuilds too)
  * finds each whole-stage and expression class compiled already. At
  * Spark's default of 100 entries, d20 and d14 alone overflow the cache
  * and every run recompiles all of their classes.
  */
class CodegenCacheSpec extends SparkSpec {
  // the fixture tables (TESTDATA.md)
  private val dir = sys.props("user.home") + "/testdata/sf0.001"

  test("the session's codegen cache is GraftSession's size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
  }

  test("a second run of d20 and d14 compiles no new class") {
    def run(): Long = {
      Pins.evict(spark, Some(dir))
      val before = Verify.compiledClasses()
      for (q <- Seq("d20_dup_pagerank", "d14_lsh_recall"))
        SparkEntry.queries(q)(spark, dir).write.format("noop")
          .mode("overwrite").save()
      Verify.compiledClasses() - before
    }
    val first = run()
    val second = run()
    Pins.evict(spark, Some(dir))
    assert(second == 0,
      s"the second run compiled $second classes (the first $first)")
  }
}
