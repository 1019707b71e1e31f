package graft

import graft.operators.{KeyedOps, OrderedFold, PrefixTopK}
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkSpec {

  test("topKPerKey keeps exactly k rows per key in total order") {
    import spark.implicits._
    val df = Seq(("a", 3), ("a", 1), ("a", 2), ("b", 9), ("b", 8), ("a", 5))
      .toDF("k", "v")
    val out = KeyedOps.topKPerKey(df, Seq($"k"), Seq($"v".desc), 2)
      .select($"k", $"v").as[(String, Int)].collect().toSet
    assert(out == Set(("a", 5), ("a", 3), ("b", 9), ("b", 8)))
  }

  test("salted top-k equals plain top-k (salting is pure perf)") {
    import spark.implicits._
    val df = (1 to 500).map(i => (s"k${i % 7}", i, i * 31 % 97)).toDF("k", "id", "v")
    val plain = KeyedOps.topKPerKey(df, Seq($"k"), Seq($"v".desc, $"id".desc), 5)
      .select($"k", $"id", $"v", $"rank").collect().toSet
    val salted = KeyedOps.topKPerKeySalted(df, Seq($"k"), Seq($"v".desc, $"id".desc), 5, fanout = 4)
      .select($"k", $"id", $"v", $"rank").collect().toSet
    assert(plain == salted)
  }

  test("argMaxPerKey returns the full arg-max row, deterministic on ties") {
    import spark.implicits._
    val df = Seq(("a", 10.0, 1L), ("a", 10.0, 2L), ("b", 5.0, 3L)).toDF("k", "v", "id")
    val out = KeyedOps.argMaxPerKey(df, Seq($"k"),
        ord = Seq($"v".as("__v"), $"id".as("__id")),
        payload = Seq("v" -> $"v", "id" -> $"id"))
      .select($"k", $"v", $"id").as[(String, Double, Long)].collect().toSet
    assert(out == Set(("a", 10.0, 2L), ("b", 5.0, 3L))) // tie -> max id wins
  }

  test("recursive prefix top-k == flat prefix top-k") {
    import spark.implicits._
    val words = Seq("spark", "spare", "spoon", "spa", "sp", "s", "query",
      "quern", "quest", "q").zipWithIndex
      .map { case (w, i) => (w, (i * 7 % 5 + 1).toLong) }
      .toDF("word", "n")
    val flat = PrefixTopK.flat(words, maxLen = 4, k = 2)
      .select($"prefix", $"word", $"n", $"rank").collect().toSet
    val rec = PrefixTopK.recursive(words, maxLen = 4, k = 2)
      .select($"prefix", $"word", $"n", $"rank").collect().toSet
    assert(flat == rec)
    assert(flat.nonEmpty)
  }

  test("orderedFold sorts each group before folding") {
    import spark.implicits._
    val ds = Seq((1L, 30L, "c"), (1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "z"))
      .toDS()
    val out = OrderedFold.foldSortedGroups(
      ds, (r: (Long, Long, String)) => r._1,
      Ordering.by((r: (Long, Long, String)) => r._2)) {
      (k, rows) => (k, rows.map(_._3).mkString)
    }.collect().toSet
    assert(out == Set((1L, "abc"), (2L, "z")))
  }

  test("bounded-buffer TopKAggregator == rank-window top-k") {
    import graft.operators.{Scored, TopKAggregator}
    import spark.implicits._
    val rows = (1 to 2000).map(i => (s"k${i % 5}", Scored((i * 37 % 101).toDouble, i.toLong)))
    val ds = rows.toDS()
    val viaAgg = ds.groupByKey(_._1).mapValues(_._2)
      .agg(new TopKAggregator(4).toColumn.name("top"))
      .flatMap { case (k, top) => top.map(s => (k, s.score, s.id)) }
      .collect().toSet
    val df = rows.map { case (k, s) => (k, s.score, s.id) }.toDF("k", "score", "id")
    val viaWindow = KeyedOps.topKPerKey(df, Seq($"k"),
        Seq($"score".desc, $"id".desc), 4)
      .select($"k", $"score", $"id").as[(String, Double, Long)].collect().toSet
    assert(viaAgg == viaWindow && viaAgg.size == 20)
  }

  test("TopKAggregator with k=0 yields empty results, not an exception") {
    import graft.operators.{Scored, TopKAggregator}
    import spark.implicits._
    // regression (ADVICE r2): with k<=0 the buffer never fills, so reduce
    // used to hit ord.lt(a, b.last) on an empty Vector
    val out = Seq(("a", Scored(1.0, 1L)), ("a", Scored(2.0, 2L)))
      .toDS().groupByKey(_._1).mapValues(_._2)
      .agg(new TopKAggregator(0).toColumn.name("top"))
      .collect()
    assert(out.toSeq == Seq(("a", Seq.empty[Scored])))
  }

  test("connectedComponents: chains, cliques and singletons get min-id labels") {
    import spark.implicits._
    val nodes = (1L to 8L).toDF("id")
    // chain 1-2-3, clique 4-5-6, edge 7-? none, 8 isolated
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L), (4L, 6L))
      .toDF("src", "dst")
    val comp = graft.operators.ConnectedComponents.runStar(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L, 7L -> 7L, 8L -> 8L))
  }

  test("connectedComponents == plain JVM union-find on random graphs " +
      "(independent ground truth, property)") {
    import graft.operators.ConnectedComponents
    import spark.implicits._
    // union-find is a structurally different oracle from the star
    // rewiring
    def unionFind(n: Long, es: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map((1L to n).map(i => i -> i): _*)
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // min-id labeling: root chosen as min via the union rule above
      (1L to n).map(i => i -> find(i)).toMap
    }
    val seeded = Seq(7, 21, 99).map { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 25L + rnd.nextInt(25)
      n -> Seq.fill(40 + rnd.nextInt(40))(
        (rnd.nextLong(n) + 1, rnd.nextLong(n) + 1))
        .filter { case (a, b) => a != b }
    }
    // the 40-node path is the high-diameter case the star rewiring
    // exists for (label propagation needs 39 rounds; star is O(log))
    val rnd = new scala.util.Random(42)
    val shaped = Seq(
      (1L to 40L).map(i => (i, i + 1)).dropRight(1),            // path
      (1L to 6L).flatMap(i => (i + 1 to 6L).map((i, _))),       // clique
      Seq.empty[(Long, Long)],                                  // isolated
      Seq.fill(60)((rnd.nextInt(30) + 1L, rnd.nextInt(30) + 1L)) // random
        .filter { case (a, b) => a != b })
      .map(es => (es.flatMap(e => Seq(e._1, e._2)) :+ 1L).max -> es)
    for ((n, es) <- seeded ++ shaped) {
      val want = unionFind(n, es)
      val got = ConnectedComponents.runStar(
        (1L to n).toDF("id"), es.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"star disagrees with union-find on $es")
    }
    // maxIter throws instead of returning wrong labels. localEdgeMax = 0
    // forces the distributed path: the driver-local finish closes this
    // 39-edge graph EXACTLY at round 0, leaving nothing to interrupt.
    val path = (1L to 39L).map(i => (i, i + 1)).toDF("src", "dst")
    intercept[IllegalStateException](ConnectedComponents.runStar(
      (1L to 40L).toDF("id"), path, maxIter = 1, localEdgeMax = 0))
  }

  test("runStar driver-local finish == forced-distributed fixpoint, " +
      "incl. a mid-run threshold crossing (round 20 differential)") {
    import graft.operators.ConnectedComponents
    import spark.implicits._
    // the local finish (runStar's localEdgeMax) collects the live edge
    // frame and closes with an exact union-find; labels must be
    // bit-identical to running the star rewiring to its fixpoint
    def labels(nodes: org.apache.spark.sql.DataFrame,
        edges: org.apache.spark.sql.DataFrame, cap: Long) =
      ConnectedComponents.runStar(nodes, edges, localEdgeMax = cap)
        .as[(Long, Long)].collect().toMap
    val rnd = new scala.util.Random(1234)
    val cases = Seq(
      (1L to 40L).map(i => (i, i + 1)).dropRight(1),             // path
      (1L to 6L).flatMap(i => (i + 1 to 6L).map((i, _))),        // clique
      Seq.empty[(Long, Long)],                                   // isolated
      Seq.fill(80)((rnd.nextInt(40) + 1L, rnd.nextInt(40) + 1L)) // random
        .filter { case (a, b) => a != b })
    cases.foreach { es =>
      val n = (es.flatMap(e => Seq(e._1, e._2)) :+ 1L).max
      val nodes = (1L to n).toDF("id")
      val edges = es.toDF("src", "dst")
      val distributed = labels(nodes, edges, 0L)     // never collects
      val localRound0 = labels(nodes, edges, 200000L) // collects round 0
      // cap below the initial edge count but above the rewired frame:
      // the run does distributed rounds FIRST, then crosses the
      // threshold and finishes locally mid-run
      val crossing = labels(nodes, edges, math.max(1L, es.size / 2L))
      assert(localRound0 == distributed, s"round-0 local finish on $es")
      assert(crossing == distributed, s"mid-run local finish on $es")
    }
  }

  test("TopKAggregator merge is commutative/associative and order-blind, " +
      "incl. NaN and -0.0 scores (property)") {
    import graft.operators.{Scored, TopKAggregator}
    val agg = new TopKAggregator(4)
    val adversarial = Seq(Double.NaN, -0.0, 0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, 1.5, -1.5)
    for (seed <- Seq(3, 17, 77)) {
      val rnd = new scala.util.Random(seed)
      val rows = Seq.fill(30)(Scored(
        if (rnd.nextInt(4) == 0) adversarial(rnd.nextInt(adversarial.length))
        else rnd.nextInt(8).toDouble, // duplicate scores force id ties
        rnd.nextInt(20).toLong))
      // reference: full sort under the documented total order
      val ord = new Ordering[Scored] {
        def compare(x: Scored, y: Scored): Int = {
          val c = java.lang.Double.compare(y.score, x.score)
          if (c != 0) c else java.lang.Long.compare(y.id, x.id)
        }
      }
      // bit-pattern comparison: case-class == is false for NaN == NaN
      def bits(b: Seq[Scored]): Seq[(Long, Long)] =
        b.map(s => (java.lang.Double.doubleToLongBits(s.score), s.id))
      val want = bits(rows.sorted(ord).take(4))
      // any reduce order must agree
      val shuffled = rnd.shuffle(rows)
      val viaReduce = shuffled.foldLeft(agg.zero)(agg.reduce)
      assert(bits(viaReduce) == want, s"seed=$seed reduce order changed top-k")
      // any split + merge must agree, in both merge argument orders
      val cut = 1 + rnd.nextInt(rows.length - 1)
      val (l, r) = shuffled.splitAt(cut)
      val bl = l.foldLeft(agg.zero)(agg.reduce)
      val br = r.foldLeft(agg.zero)(agg.reduce)
      assert(bits(agg.merge(bl, br)) == want, s"seed=$seed merge(l,r) wrong")
      assert(bits(agg.merge(br, bl)) == want,
        s"seed=$seed merge not commutative")
      assert(bits(agg.merge(agg.merge(bl, agg.zero), br)) == want,
        s"seed=$seed zero not identity under merge")
    }
  }

  test("Subprocess.pipePartitions streams rows through an external binary") {
    import graft.operators.Subprocess
    import spark.implicits._
    val in = (1 to 500).map(i => s"row$i").toDS().repartition(4)
    val out = Subprocess.pipePartitions(in, Seq("tr", "a-z", "A-Z"))
      .collect().sorted
    assert(out.toSeq == (1 to 500).map(i => s"ROW$i").sorted)
    // a failing command fails the task with the exit code, not silence
    val err = intercept[org.apache.spark.SparkException](
      Subprocess.pipePartitions(in, Seq("false")).collect())
    assert(err.getMessage.contains("exited") || err.getCause != null)
  }

  test("withGlobalAgg broadcasts a single-row aggregate to every row") {
    import spark.implicits._
    val df = Seq(1.0, 2.0, 3.0, 4.0).toDF("v")
    val out = KeyedOps.withGlobalAgg(df, avg($"v").as("m"))
      .filter($"v" > $"m").as[(Double, Double)].collect().toSet
    assert(out == Set((3.0, 2.5), (4.0, 2.5)))
  }

  test("AsOfJoin: latest right at-or-before each left, null when none") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: Int) = new Timestamp(s * 1000L)
    val clicks = Seq(
      (1L, t(10), 100L), // after purchases at 5 -> matches 5
      (1L, t(20), 101L), // equal ts as purchase at 20 -> INCLUSIVE match
      (1L, t(3), 102L),  // before any purchase -> null
      (2L, t(50), 200L)  // user with no purchases -> null
    ).toDF("user_id", "ts", "event_id")
    val purchases = Seq(
      (1L, t(5), 7.0),
      (1L, t(20), 9.0),
      (1L, t(30), 11.0) // after every click -> never matched
    ).toDF("user_id", "ts", "purchase_value")
    val out = graft.operators.AsOfJoin.leftAsOf(
        clicks, purchases, Seq("user_id"), "ts", Seq("purchase_value"))
      .select($"event_id", $"asof_ts", $"asof_purchase_value")
      .as[(Long, Option[Timestamp], Option[Double])].collect()
      .map(r => r._1 -> ((r._2.map(_.getTime / 1000), r._3))).toMap
    assert(out(100L) == ((Some(5L), Some(7.0))))
    assert(out(101L) == ((Some(20L), Some(9.0)))) // inclusive boundary
    assert(out(102L) == ((None, None)))
    assert(out(200L) == ((None, None)))
    assert(out.size == 4) // every left row survives exactly once
  }

  test("AsOfJoin: null right timestamps match nothing (ASOF semantics)") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: Int) = new Timestamp(s * 1000L)
    val clicks = Seq((1L, t(3), 102L)).toDF("user_id", "ts", "event_id")
    val purchases = Seq((1L, null.asInstanceOf[Timestamp], 99.0))
      .toDF("user_id", "ts", "purchase_value")
    val out = graft.operators.AsOfJoin.leftAsOf(
        clicks, purchases, Seq("user_id"), "ts", Seq("purchase_value"))
      .select($"asof_purchase_value").as[Option[Double]].collect()
    assert(out.toSeq == Seq(None),
      "a null-ts right row must not become a universal fallback match")
  }

  test("AsOfJoin: reserved working/output column names fail fast") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: Int) = new Timestamp(s * 1000L)
    val purchases = Seq((1L, t(5), 7.0)).toDF("user_id", "ts", "purchase_value")
    // a left column named like an output would be silently REPLACED by
    // withColumn; the guard must reject it instead
    for (bad <- Seq("_asof", "_side", "_m", "asof_ts", "asof_purchase_value")) {
      val clicks = Seq((1L, t(10), 0L)).toDF("user_id", "ts", bad)
      val e = intercept[IllegalArgumentException] {
        graft.operators.AsOfJoin.leftAsOf(
          clicks, purchases, Seq("user_id"), "ts", Seq("purchase_value"))
      }
      assert(e.getMessage.contains(bad))
    }
    val clicks = Seq((1L, t(10), 0L)).toDF("user_id", "ts", "event_id")
    intercept[IllegalArgumentException] { // payload repeating tsCol
      graft.operators.AsOfJoin.leftAsOf(
        clicks, purchases, Seq("user_id"), "ts", Seq("ts", "purchase_value"))
    }
  }

  test("ShardedPrefixSum == plain global running sum at every shard width") {
    import graft.operators.ShardedPrefixSum
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // Two groups, adversarial order values (dups, clusters, gaps) so ties
    // and empty shards are both exercised. shard = ord div width is
    // monotone in ord, the operator's contract.
    val rnd = new scala.util.Random(7)
    val rows = (1 to 400).map { i =>
      (s"g${i % 2}", (rnd.nextInt(50) * 20).toLong, i.toLong, (i % 13 + 1).toLong)
    }
    val base = rows.toDF("g", "ord", "id", "v").repartition(8)
    val globalW = Window.partitionBy($"g").orderBy($"ord", $"id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = base.withColumn("cum", sum($"v").over(globalW))
      .select($"g", $"id", $"cum").as[(String, Long, Long)].collect().toSet
    // widths from 1 shard (degenerate: pure window) to 1 shard per row
    for (width <- Seq(1L, 7L, 64L, 1000L, 100000L)) {
      val sharded = base.withColumn("shard", expr(s"ord div $width"))
      val got = ShardedPrefixSum.withRunningTotal(
          sharded, groupCols = Seq("g"), shardCol = "shard",
          orderCols = Seq("ord", "id"), valueCol = "v", outCol = "cum")
        .select($"g", $"id", $"cum").as[(String, Long, Long)].collect().toSet
      assert(got == expected, s"sharded prefix sum diverges at width=$width")
    }
  }

  test("RangeJoin: containment across bin boundaries, [start,end) exclusive") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000L)
    // bin width 10s; interval spans 3 bins; one interval inside one bin
    val intervals = Seq(
      (t(5), t(27), "long"),   // covers bins 0,1,2
      (t(42), t(44), "short")  // inside bin 4
    ).toDF("o_start", "o_end", "name")
    val points = Seq(
      (1L, t(5)),   // == start -> in
      (2L, t(26)),  // just under end, different bin than start -> in
      (3L, t(27)),  // == end -> OUT (exclusive)
      (4L, t(43)),  // inside short
      (5L, t(41)),  // same bin as short but before start -> OUT
      (6L, t(100))  // no interval
    ).toDF("event_id", "ts")
    val out = graft.operators.RangeJoin.pointInInterval(
        points, "ts", intervals, "o_start", "o_end", binWidthSec = 10)
      .select($"event_id", $"name").as[(Long, String)].collect().toSet
    assert(out == Set((1L, "long"), (2L, "long"), (4L, "short")))
    // inverted interval (end < start) matches nothing instead of
    // exploding a descending bin sequence
    val dirty = intervals.unionAll(
      Seq((t(1000000), t(0), "inverted")).toDF("o_start", "o_end", "name"))
    val out2 = graft.operators.RangeJoin.pointInInterval(
        points, "ts", dirty, "o_start", "o_end", binWidthSec = 10)
      .select($"event_id", $"name").as[(Long, String)].collect().toSet
    assert(out2 == out)
  }
}
