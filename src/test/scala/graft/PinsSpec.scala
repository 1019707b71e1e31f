package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.core.Pins
import org.apache.spark.sql.DataFrame

/** The pin registry's contract: a build runs once per key, outside the
  * map's locks, a build that throws is not cached, and a query family's
  * consumers share the one pinned frame.
  *
  * The concurrency tests pick their second key so that it lands in the
  * SAME map bin as the first one. A registry that built inside
  * `computeIfAbsent` would then hold that bin's lock for the whole
  * build: a nested pin would throw `Recursive update` and an unrelated
  * caller would block.
  */
class PinsSpec extends SparkSpec {

  private val timeoutMs = 60000L

  /** A key for pin `name` whose registry key shares `anchor`'s map bin
    * in any table of up to 2^16 bins (ConcurrentHashMap's bin index is
    * the low bits of `h ^ (h >>> 16)`).
    */
  private def sameBin(name: String, anchor: Pins.Key): String = {
    def bin(k: Pins.Key) = { val h = k.hashCode; (h ^ (h >>> 16)) & 0xffff }
    Iterator.from(0).map(i => s"${anchor.key}/$i")
      .find(k => bin(Pins.Key(name, anchor.session, anchor.dir, k)) == bin(anchor))
      .get
  }

  private def fresh(): String = java.util.UUID.randomUUID().toString

  test("two threads request pin B, whose build requests pin A: one build " +
      "each, one frame, no lock error") {
    val keyB = fresh()
    val keyA = sameBin("pins_spec_a", Pins.Key("pins_spec_b", spark, None, keyB))
    val buildsA = new AtomicInteger
    val buildsB = new AtomicInteger
    val inB = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    def getB(): DataFrame = Pins.frame("pins_spec_b", spark, None, keyB) {
      buildsB.incrementAndGet()
      inB.countDown()
      release.await(timeoutMs, TimeUnit.MILLISECONDS)
      Pins.frame("pins_spec_a", spark, None, keyA) {
        buildsA.incrementAndGet()
        spark.range(10).toDF("id")
      }.selectExpr("id * 2 AS v")
    }
    val got = new Array[DataFrame](2)
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 2).map(i => new Thread(() =>
      try got(i) = getB() catch { case t: Throwable => errors.add(t) }))
    try {
      threads(0).start()
      assert(inB.await(timeoutMs, TimeUnit.MILLISECONDS), "B's build never started")
      threads(1).start()
      // the second caller waits for the running build instead of starting one
      val deadline = System.currentTimeMillis() + timeoutMs
      while (threads(1).getState != Thread.State.BLOCKED &&
          System.currentTimeMillis() < deadline) Thread.sleep(5)
      assert(threads(1).getState == Thread.State.BLOCKED)
      release.countDown()
      threads.foreach(_.join(timeoutMs))
      assert(threads.forall(!_.isAlive), "a pin request deadlocked")
      assert(errors.isEmpty, s"pin requests failed: $errors")
      assert(buildsB.get == 1 && buildsA.get == 1,
        s"builds: B ${buildsB.get}, A ${buildsA.get}")
      assert(got(0) eq got(1), "both callers must get the one pinned frame")
      assert(got(0).count() == 10)
    } finally {
      release.countDown()
      Pins.evict(spark)
    }
  }

  test("a get for an unrelated key returns while another build is blocked") {
    val keyX = fresh()
    val keyY = sameBin("pins_spec_y", Pins.Key("pins_spec_x", spark, None, keyX))
    val inX = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val gotY = new CountDownLatch(1)
    val builder = new Thread(() => Pins.get("pins_spec_x", spark, None, keyX) {
      inX.countDown()
      release.await(2 * timeoutMs, TimeUnit.MILLISECONDS)
      1
    })
    val reader = new Thread(() =>
      if (Pins.get("pins_spec_y", spark, None, keyY)(2) == 2) gotY.countDown())
    try {
      builder.start()
      assert(inX.await(timeoutMs, TimeUnit.MILLISECONDS), "X's build never started")
      reader.start()
      assert(gotY.await(timeoutMs, TimeUnit.MILLISECONDS),
        "an unrelated pin waited for a running build")
      assert(builder.isAlive, "X's build must still be blocked")
    } finally {
      release.countDown()
      builder.join(timeoutMs)
      reader.join(timeoutMs)
      Pins.evict(spark)
    }
  }

  test("a build that throws is not cached: the next get builds again") {
    val key = fresh()
    val builds = new AtomicInteger
    val e = intercept[IllegalStateException] {
      Pins.get[Int]("pins_spec_fail", spark, None, key) {
        builds.incrementAndGet()
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage == "build failed")
    assert(Pins.get("pins_spec_fail", spark, None, key) { builds.incrementAndGet(); 7 } == 7)
    assert(Pins.get("pins_spec_fail", spark, None, key) { builds.incrementAndGet(); 8 } == 7)
    assert(builds.get == 2)
    Pins.evict(spark)
  }

  test("j11/j12 share ONE pinned bm25 rank frame per (session, dir)") {
    val dir = "/root/testdata/sf0.001"
    def sortedRows(df: DataFrame): Seq[String] =
      df.select(df.columns.sorted.toSeq.map(df.col): _*).collect()
        .map(_.mkString("|")).toSeq.sorted
    val a = SparkEntry.queries("j11_bm25")(spark, dir)
    val b = SparkEntry.queries("j11_bm25")(spark, dir)
    assert(a eq b, "second j11 build must return the pinned frame")
    // and the pinned frame's values equal a fresh unpinned evaluation
    assert(sortedRows(a) ==
      sortedRows(graft.queries.TextAnalytics.bm25Plan(spark, dir)))
  }
}
