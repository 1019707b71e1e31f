package graft

import graft.functions.{HashFunctions, TextFunctions}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

class FunctionsSpec extends SparkSpec {

  test("javaStringHashCode matches java.lang.String.hashCode (property)") {
    import spark.implicits._
    val strings = Gen.listOfN(50, Gen.asciiPrintableStr).sample.get :+
      "" :+ "Flourish" :+ "ünïcödé" :+ "a" * 100
    val df = strings.toDF("s")
      .select($"s", HashFunctions.javaStringHashCode($"s").as("h"))
    df.collect().foreach { r =>
      assert(r.getInt(1) == r.getString(0).hashCode,
        s"mismatch for '${r.getString(0)}'")
    }
  }

  test("javaStringHashCode survives codegen and interpreted paths equally") {
    import spark.implicits._
    val df = Seq("spark", "graft", "").toDF("s")
    val expected = Seq("spark".hashCode, "graft".hashCode, "".hashCode)
    assert(df.select(HashFunctions.javaStringHashCode($"s"))
      .collect().map(_.getInt(0)).toSeq == expected)
  }

  test("tokenize lowercases, splits on non-letters, drops empties") {
    import spark.implicits._
    val out = Seq("Hello, World!  42 foo_bar").toDF("t")
      .select(TextFunctions.tokenize($"t")).as[Seq[String]].head()
    assert(out == Seq("hello", "world", "foo", "bar"))
  }

  test("tokenizeCased preserves case (reference semantics)") {
    import spark.implicits._
    val out = Seq("Flourish! and stomach?").toDF("t")
      .select(TextFunctions.tokenizeCased($"t")).as[Seq[String]].head()
    assert(out == Seq("Flourish", "and", "stomach"))
  }

  test("shingles: n-grams joined by space; short docs give empty array") {
    import spark.implicits._
    val df = Seq("a b c d", "a b").toDF("t")
      .select(TextFunctions.shingles(TextFunctions.wsTokens($"t"), 3).as("sh"))
    val rows = df.as[Seq[String]].collect()
    assert(rows(0) == Seq("a b c", "b c d"))
    assert(rows(1) == Seq.empty)
  }

  test("hashedShingles matches an independent reimplementation") {
    import spark.implicits._
    import graft.functions.HashedShinglesExpr
    // independent reference: regex tokenize, Java string hash, BigInt fold
    def ref(text: String, n: Int): Seq[Long] = {
      val toks = text.split("\\s+").filter(_.nonEmpty)
      if (toks.length < n) Seq.empty
      else toks.sliding(n).map { w =>
        w.map(t => BigInt(t.hashCode) mod BigInt(4294967296L))
          .reduceLeft((g, h) => (g * 1000003 + h) mod BigInt(4294967296L))
          .toLong
      }.toSeq.distinct.sorted
    }
    val docs = Seq(
      "a b c d e", "a b", "", "  padded   spacing\tand\ttabs  ",
      "dup dup dup dup dup", "Ünïcode tökens überall here ok",
      "x y z x y z x y z")
    val got = docs.toDF("t")
      .select(HashedShinglesExpr.hashedShingles($"t", 3).as("sh"))
      .as[Seq[Long]].collect()
    docs.zip(got).foreach { case (d, g) =>
      assert(g == ref(d, 3), s"mismatch for '$d'")
      assert(g.forall(v => v >= 0 && v < 4294967296L))
    }
    // n=1 degenerates to distinct token hashes
    val one = Seq("b a b").toDF("t")
      .select(HashedShinglesExpr.hashedShingles($"t", 1).as("sh"))
      .as[Seq[Long]].head()
    assert(one == Seq("a", "b").map(t =>
      BigInt(t.hashCode).mod(BigInt(4294967296L)).toLong).sorted)
  }

  test("poly_fp_windows matches the composed transform/slice/aggregate chain") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.{HashFunctions, PolyFpWindowsExpr, TextFunctions}
    val W = 8
    val rng = new scala.util.Random(4242)
    val docs = Seq(
      "", "one", "a b c d e f g", // under W tokens -> empty
      "a b c d e f g h",          // exactly W -> one fp
      "  padded   spacing\tand\ttabs a b c d e f ",
      "dup dup dup dup dup dup dup dup dup dup",
      "Ünïcode tökens überall here ok x y z w v u t s"
    ) ++ (1 to 20).map(_ =>
      (0 until (rng.nextInt(40) + 1)).map(_ => s"w${rng.nextInt(9)}")
        .mkString(" "))
    val df = docs.toDF("text")
    // the composed form this expression replaced (d25/d28 pre-round-14)
    val hsCol = transform(TextFunctions.wsTokens($"text"),
      w => pmod(HashFunctions.javaStringHashCode(w).cast("long"),
        lit(4294967296L)))
    val composed = df
      .select(monotonically_increasing_id().as("i"), hsCol.as("hs"))
      .select($"i",
        when(size($"hs") >= W,
          transform(sequence(lit(0), size($"hs") - W),
            j => HashFunctions.polyFingerprint(slice($"hs", j + 1, lit(W)))))
          .otherwise(expr("CAST(array() AS array<bigint>)")).as("fps"))
      .orderBy($"i").as[(Long, Seq[Long])].collect().map(_._2)
    val fused = df
      .select(monotonically_increasing_id().as("i"),
        PolyFpWindowsExpr.polyFpWindows($"text", W).as("fps"))
      .orderBy($"i").as[(Long, Seq[Long])].collect().map(_._2)
    composed.zip(fused).zip(docs).foreach { case ((c, f), d) =>
      assert(f == c, s"fp mismatch for '${d.take(40)}'")
    }
    // SQL surface (GraftExtensions registration)
    val viaSql = spark.sql(
      "SELECT poly_fp_windows('a b c d e f g h i', 8)")
      .as[Seq[Long]].head()
    assert(viaSql.length == 2)
  }

  test("cdc_chunks matches an independent reimplementation") {
    import spark.implicits._
    import graft.functions.{CdcChunksExpr, HashFunctions}
    // independent reference: split, Java hashCode -> u32, Knuth-hash
    // boundary test, BigInt poly fold per chunk
    def ref(text: String): Seq[(Long, Long, Long)] = {
      val hs = text.split("\\s+").filter(_.nonEmpty)
        .map(t => BigInt(t.hashCode).mod(BigInt(4294967296L)).toLong)
      if (hs.isEmpty) return Seq.empty
      val chunks = scala.collection.mutable.Buffer[(Long, Long, Long)]()
      var id = 0L; var len = 0L; var g = BigInt(0)
      hs.zipWithIndex.foreach { case (h, pos) =>
        if (pos > 0 && HashFunctions.knuthHashJvm(h) % 16 == 0) {
          chunks += ((id, len, g.toLong)); id += 1; len = 0; g = BigInt(0)
        }
        g = (g * 31 + h) mod BigInt(1000000007L)
        len += 1
      }
      chunks += ((id, len, g.toLong))
      chunks.toSeq
    }
    val rng = new scala.util.Random(777)
    val docs = Seq("", "one", "a b c") ++ (1 to 25).map(_ =>
      (0 until (rng.nextInt(120) + 1)).map(_ => s"t${rng.nextInt(400)}")
        .mkString(" "))
    val got = docs.toDF("text")
      .select(org.apache.spark.sql.functions.monotonically_increasing_id()
        .as("i"), CdcChunksExpr.cdcChunks($"text").as("c"))
      .orderBy($"i")
      .as[(Long, Seq[(Long, Long, Long)])].collect().map(_._2)
    docs.zip(got).foreach { case (d, g) =>
      assert(g == ref(d), s"chunk mismatch for '${d.take(40)}'")
    }
    // SQL surface (GraftExtensions registration)
    val viaSql = spark.sql("SELECT size(cdc_chunks('a b c'))")
      .as[Int].head()
    assert(viaSql >= 1)
  }

  test("strided_chunks matches an independent reimplementation") {
    import spark.implicits._
    import graft.functions.StridedChunksExpr
    def ref(text: String, size: Int, stride: Int): Seq[(Long, Long, Long)] = {
      val hs = text.split("\\s+").filter(_.nonEmpty)
        .map(t => BigInt(t.hashCode).mod(BigInt(4294967296L)).toLong)
      if (hs.isEmpty) return Seq.empty
      (0 until (hs.length + stride - 1) / stride).map { i =>
        val sl = hs.slice(i * stride, i * stride + size)
        val fp = sl.foldLeft(BigInt(0))((g, h) =>
          (g * 31 + h) mod BigInt(1000000007L))
        (i.toLong, sl.length.toLong, fp.toLong)
      }
    }
    val rng = new scala.util.Random(31337)
    val docs = Seq("", "one", "a b c") ++ (1 to 20).map(_ =>
      (0 until (rng.nextInt(200) + 1)).map(_ => s"t${rng.nextInt(500)}")
        .mkString(" "))
    val got = docs.toDF("text")
      .select(org.apache.spark.sql.functions.monotonically_increasing_id()
        .as("i"), StridedChunksExpr.stridedChunks($"text", 64, 48).as("c"))
      .orderBy($"i")
      .as[(Long, Seq[(Long, Long, Long)])].collect().map(_._2)
    docs.zip(got).foreach { case (d, g) =>
      assert(g == ref(d, 64, 48), s"chunk mismatch for '${d.take(40)}'")
    }
  }

  test("hash_embed matches an independent reimplementation") {
    import spark.implicits._
    import graft.functions.HashEmbedExpr
    // independent reference: regex tokenize, Java hash -> u32 via
    // BigInt, per-dim sign accumulation, long sum-of-squares norm
    def ref(text: String, dims: Int): Seq[(Long, Double)] = {
      val hs = text.split("\\s+").filter(_.nonEmpty)
        .map(t => BigInt(t.hashCode).mod(BigInt(4294967296L)).toLong)
      val raw = new Array[Long](dims)
      val cnt = new Array[Int](dims)
      hs.foreach { h =>
        raw((h % dims).toInt) += ((h >> 16) & 1L) * 2L - 1L
        cnt((h % dims).toInt) += 1
      }
      val norm = math.sqrt(raw.map(r => r * r).sum.toDouble)
      (0 until dims).filter(cnt(_) > 0).map(d =>
        (d.toLong, if (norm == 0.0) 0.0 else raw(d).toDouble / norm))
    }
    val rng = new scala.util.Random(1729)
    val docs = Seq("", "one", "a b c", "x x x x") ++ (1 to 20).map(_ =>
      (0 until (rng.nextInt(200) + 1)).map(_ => s"t${rng.nextInt(500)}")
        .mkString(" "))
    val got = docs.toDF("text")
      .select(org.apache.spark.sql.functions.monotonically_increasing_id()
        .as("i"), HashEmbedExpr.hashEmbed($"text", 16).as("e"))
      .orderBy($"i")
      .as[(Long, Seq[(Long, Double)])].collect().map(_._2)
    docs.zip(got).foreach { case (d, g) =>
      assert(g == ref(d, 16), s"embed mismatch for '${d.take(40)}'")
    }
    // the fused x17 must plan MAP-ONLY: no exchange anywhere
    val plan = SparkEntry.queries("x17_hash_embedding")(
      spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"fused x17 must be map-only (zero exchanges):\n$plan")
    // SQL surface (GraftExtensions registration)
    val viaSql = spark.sql(
      "SELECT size(hash_embed('a b c', 16))").as[Int].head()
    assert(viaSql >= 1 && viaSql <= 3)
  }

  test("ngram_selfdup_stats matches an independent reimplementation") {
    import spark.implicits._
    import graft.functions.NgramSelfDupExpr
    // independent reference: regex tokenize, u32 Java hash via BigInt,
    // window fp by BigInt poly fold, first-occurrence-wins dup marking,
    // set-union coverage
    def ref(text: String, n: Int): (Long, Long, Long) = {
      val hs = text.split("\\s+").filter(_.nonEmpty)
        .map(t => BigInt(t.hashCode).mod(BigInt(4294967296L)))
      if (hs.length < n) return (hs.length.toLong, 0L, 0L)
      val fps = (0 to hs.length - n).map(i =>
        hs.slice(i, i + n).foldLeft(BigInt(0))((g, h) =>
          (g * 31 + h) mod BigInt(1000000007L)))
      val seen = scala.collection.mutable.Set[BigInt]()
      var dupW = 0L
      val cov = scala.collection.mutable.Set[Int]()
      fps.zipWithIndex.foreach { case (fp, i) =>
        if (!seen.add(fp)) { dupW += 1; (i until i + n).foreach(cov += _) }
      }
      (hs.length.toLong, dupW, cov.size.toLong)
    }
    val docs = Seq("", "a b", "a b c", "a b c a b c", "x x x x x x",
      "a b c d a b c d e f a b", "one two three two three four") ++ {
      val rng = new scala.util.Random(4242)
      (1 to 20).map(_ => (0 until (rng.nextInt(120) + 1))
        .map(_ => s"t${rng.nextInt(12)}").mkString(" "))
    }
    val got = docs.toDF("text")
      .select(org.apache.spark.sql.functions.monotonically_increasing_id()
        .as("i"), NgramSelfDupExpr.ngramSelfDupStats($"text", 3).as("r"))
      .orderBy($"i")
      .select($"r.n_tokens", $"r.n_dup_windows", $"r.dup_tokens")
      .as[(Long, Long, Long)].collect()
    docs.zip(got).foreach { case (d, g) =>
      assert(g == ref(d, 3), s"selfdup mismatch for '${d.take(50)}': " +
        s"got $g, want ${ref(d, 3)}")
    }
    // "a b c a b c": windows abc,bca,cab,abc -> 1 dup window covering
    // tokens 3..5 -> (6, 1, 3)
    assert(got(3) == ((6L, 1L, 3L)))
    // "x x x x x x": windows all identical -> 3 dups covering tokens 1..5
    assert(got(4) == ((6L, 3L, 5L)))
    // the fused x35 must plan MAP-ONLY, and the driver corpus makes it
    // non-vacuous (sf0.001 plants repeated trigrams in some docs)
    val df = SparkEntry.queries("x35_selfdup_stats")(
      spark, "/root/testdata/sf0.001")
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"),
      "fused x35 must be map-only (zero exchanges)")
    assert(df.filter($"n_dup_windows" > 0).count() > 0,
      "corpus must exercise the dup path")
    // SQL surface (GraftExtensions registration)
    val viaSql = spark.sql(
      "SELECT ngram_selfdup_stats('a b c a b c', 3).dup_tokens")
      .as[Long].head()
    assert(viaSql == 3L)
  }

  test("repetitionStats matches an independent reimplementation") {
    import spark.implicits._
    import graft.functions.RepetitionStatsExpr
    def ref(text: String): (Int, Int, Int) = {
      val hs = text.split("[ \t\n\u000B\f\r]+").filter(_.nonEmpty)
        .map(t => BigInt(t.hashCode).mod(BigInt(4294967296L)))
      val bigrams = hs.sliding(2).filter(_.length == 2)
        .map(p => ((p(0) * 1000003 + p(1)) mod BigInt(4294967296L))).toSeq
      val top = if (bigrams.isEmpty) 0
        else bigrams.groupBy(identity).values.map(_.size).max
      (hs.length, hs.distinct.length, top)
    }
    val docs = Seq(
      "a b c d e", "a", "", "  padded   spacing\tand\ttabs  ",
      "dup dup dup dup dup", "x y x y x y z",
      "Ünïcode tökens überall here ok", "one two one two three one two",
      "vt\u000Bseparated\u000Btokens") // Java \s includes vertical tab
    val got = docs.toDF("t")
      .select(RepetitionStatsExpr.repetitionStats($"t").as("r"))
      .select($"r.n_tokens", $"r.n_distinct", $"r.top_bigram_n")
      .as[(Int, Int, Int)].collect()
    docs.zip(got).foreach { case (d, g) =>
      assert(g == ref(d), s"mismatch for '$d': got $g, want ${ref(d)}")
    }
    // "dup dup dup dup dup": 5 tokens, 1 distinct, bigram (dup,dup) ×4
    assert(got(4) == ((5, 1, 4)))
  }

  test("simhash32 matches the composed Catalyst bit-vote form") {
    import spark.implicits._
    import graft.functions.SimHashExpr
    // the exact HOF pipeline SimHashExpr replaced
    def composed(text: org.apache.spark.sql.Column) = {
      val hashes = transform(TextFunctions.wsTokens(text),
        w => pmod(HashFunctions.javaStringHashCode(w).cast("long"),
          lit(4294967296L)))
      (0 until 32).map { b =>
        val votes = aggregate(hashes, lit(0L), (acc, h) =>
          acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, 1L)
            .otherwise(-1L))
        when(votes > 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    val docs = Seq("the quick brown fox", "", "one", "a a a b",
      "tabs\tand  runs of   space", "Ünïcode tökens")
    val rows = docs.toDF("t")
      .select(SimHashExpr.simhash32($"t").as("f"), composed($"t").as("c"))
      .as[(Long, Long)].collect()
    docs.zip(rows).foreach { case (d, (f, c)) =>
      assert(f == c, s"simhash mismatch for '$d'")
      assert(f >= 0 && f < 4294967296L)
    }
    assert(rows(1)._1 == 0L) // zero-token doc
  }

  test("minhash_bands matches the composed Catalyst minhash form") {
    import spark.implicits._
    import graft.functions.{HashedShinglesExpr, MinHashBandsExpr}
    val (numPerm, bandSize, p) = (16, 4, 2147483647L)
    // the exact HOF pipeline MinHashBandsExpr replaced (the streaming
    // near-dup band computation before the fused expression)
    def composed(text: org.apache.spark.sql.Column) = {
      val sh = HashedShinglesExpr.hashedShingles(text, 3)
      val sig = array((0 until numPerm).map { j =>
        array_min(transform(sh,
          x => pmod(x * lit(2L * j + 1) + lit(12345L * j + 1), lit(p))))
      }: _*)
      when(size(sh) > 0,
        transform(sequence(lit(0), lit(numPerm / bandSize - 1)), b =>
          concat_ws("|", b.cast("string"),
            array_join(transform(
              slice(sig, b * lit(bandSize) + lit(1), lit(bandSize)),
              x => x.cast("string")), ","))))
        .otherwise(array().cast("array<string>"))
    }
    val docs = Seq("the quick brown fox jumps over the lazy dog", "", "a b",
      "a b c", "tabs\tand  runs of   space and more words here",
      "Ünïcode tökens mixed in a sentence")
    val rows = docs.toDF("t")
      .select(MinHashBandsExpr.minhashBands($"t", 3, numPerm, bandSize, p)
        .as("f"), composed($"t").as("c"))
      .as[(Seq[String], Seq[String])].collect()
    docs.zip(rows).foreach { case (d, (f, c)) =>
      assert(f == c, s"minhash band mismatch for '$d': $f vs $c")
    }
    assert(rows(1)._1.isEmpty && rows(2)._1.isEmpty) // < 3 tokens: no bands
    // SQL-surface registration agrees with the Scala API
    val viaSql = docs.toDF("t")
      .selectExpr("minhash_bands(t, 3, 16, 4) AS f")
      .as[Seq[String]].collect().toSeq
    assert(viaSql == rows.map(_._1).toSeq)
  }

  test("knuthHash is within [0, 2^32) and deterministic") {
    import spark.implicits._
    val vals = Seq(0L, 1L, 42L, Int.MaxValue.toLong).toDF("x")
      .select(HashFunctions.knuthHash($"x")).as[Long].collect()
    assert(vals.forall(v => v >= 0 && v < 4294967296L))
    assert(vals(1) == 2654435761L % 4294967296L)
  }

  test("knuthHash matches BigInt reference and never overflows under ANSI") {
    import spark.implicits._
    // keys past ~3.46e9 made the old single-multiply form overflow long
    // (ANSI throws); the split-multiply form must agree with exact BigInt
    // arithmetic across the full range, including Long.MaxValue.
    val keys = Seq(0L, 1L, 3456789012L, 4000000000L, 4294967295L,
      4294967296L, 8589934592L + 7L, Long.MaxValue) ++
      Gen.listOfN(50, Gen.chooseNum(0L, Long.MaxValue)).sample.get
    def ref(x: Long): Long =
      ((BigInt(x) % 4294967296L) * 2654435761L % 4294967296L).toLong
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true",
      "this regression test must run under ANSI mode")
    val got = keys.toDF("x")
      .select($"x", HashFunctions.knuthHash($"x").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    keys.foreach(k => assert(got(k) == ref(k), s"knuthHash($k)"))
  }

  test("cosine_f32 is bit-identical to the HOF fold and to cosineJvm") {
    import spark.implicits._
    val rng = new scala.util.Random(4242)
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.fill(64)(rng.nextFloat() * 2 - 1))
    }
    val pairs = for (a <- vecs; b <- vecs if a._1 < b._1)
      yield (a._1, b._1, a._2, b._2)
    val df = pairs.toDF("ia", "ib", "a", "b")
      .select($"ia", $"ib",
        graft.functions.CosineSimExpr.cosineF32($"a", $"b").as("fused"),
        graft.functions.VectorFunctions.cosineHof($"a", $"b").as("hof"))
      .collect()
    val byKey = vecs.toMap
    df.foreach { r =>
      val fused = r.getDouble(2); val hof = r.getDouble(3)
      val jvm = graft.functions.VectorFunctions.cosineJvm(
        byKey(r.getLong(0)), byKey(r.getLong(1)))
      assert(java.lang.Double.doubleToLongBits(fused) ==
        java.lang.Double.doubleToLongBits(hof),
        s"fused=$fused hof=$hof")
      assert(java.lang.Double.doubleToLongBits(fused) ==
        java.lang.Double.doubleToLongBits(jvm),
        s"fused=$fused jvm=$jvm")
    }
    // and the SQL-registered form agrees (GraftExtensions surface)
    val sqlRow = Seq((vecs(0)._2, vecs(1)._2)).toDF("a", "b")
      .selectExpr("cosine_f32(a, b) AS c").head()
    assert(java.lang.Double.doubleToLongBits(sqlRow.getDouble(0)) ==
      java.lang.Double.doubleToLongBits(
        graft.functions.VectorFunctions.cosineJvm(vecs(0)._2, vecs(1)._2)))
  }

  test("lsh_bucket fused expression matches the composed HOF plane folds") {
    import spark.implicits._
    val rng = new scala.util.Random(777)
    val vecs = (0 until 60).map(i =>
      (i.toLong, Array.fill(64)(rng.nextFloat() * 2 - 1)))
    val rows = vecs.toDF("id", "e")
      .select($"id",
        graft.functions.LshBucketExpr.lshBucket($"e", 8).as("fused"),
        graft.queries.Similarity.lshBucketHof($"e").as("hof"))
      .collect()
    rows.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"id=${r.getLong(0)}: fused=${r.getLong(1)} hof=${r.getLong(2)}"))
  }

  test("stopwordRatio and punctRatio bounds") {
    import spark.implicits._
    val r = Seq("the cat!!!").toDF("t")
      .select(
        TextFunctions.stopwordRatio(TextFunctions.wsTokens($"t")).as("s"),
        TextFunctions.punctRatio($"t").as("p"))
      .head()
    assert(r.getDouble(0) == 0.5) // "the" of ["the","cat!!!"]
    assert(r.getDouble(1) == 0.3) // 3 of 10 chars
  }

  test("quality over one token array == the composed qualityCol(text), " +
      "row for row on edge-case texts and the corpus (both eval paths)") {
    import spark.implicits._
    import graft.queries.TextAnalytics
    // empty, whitespace-only, punctuation-only, NUL-bearing, multi-space
    val edge = Seq[String]("", " ", " \t\n\r ", "!!!", "?!.,;#", "\u0000",
      "the\u0000cat is", "the  cat   sat\t\ton", "  a  b  ", null)
      .toDF("text")
    val texts = edge
      .union(graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
        .select($"text"))
      .repartition(4)
    bothEvalPaths {
      val rows = TextAnalytics.withToks(texts)
        .select($"text", TextAnalytics.qualityCol($"toks", $"text").as("q"),
          ComposedForms.qualityCol($"text").as("c"))
        .collect()
      assert(rows.length == texts.count(), "one token array per document")
      val diff = rows.filterNot(r => r.get(1) == r.get(2))
      assert(diff.isEmpty, diff.take(5).mkString("\n"))
    }
  }

  test("char_trigram_scores: edge cases keep the composed x5 form's values") {
    import spark.implicits._
    import graft.functions.CharTrigramScoresExpr
    val profiles = CharTrigramScoresExpr.Profiles
    // (text, expected (en, de, fr)) — the values the composed form gives
    val cases = Seq[(String, (Int, Int, Int))](
      (null, (0, 0, 0)), ("", (0, 0, 0)), ("t", (0, 0, 0)),
      ("th", (0, 0, 0)), ("the", (1, 0, 0)), ("thethe", (2, 0, 0)),
      ("naïve the", (2, 0, 0)), ("😀the", (1, 0, 0)), ("éth", (0, 0, 0)),
      ("der und ich", (1, 3, 0)), ("les parents que", (0, 0, 3)),
      ("the\u0000the", (2, 0, 0)), ("\u0000th", (0, 0, 0)))
    bothEvalPaths {
      val rows = cases.map(_._1).toDF("t").repartition(4)
        .select($"t", CharTrigramScoresExpr.charTrigramScores($"t").as("k"),
          struct(ComposedForms.trigramScores($"t", profiles): _*).as("c"))
        .collect().map(r => Option(r.getString(0)) ->
          ((r.getStruct(1).getInt(0), r.getStruct(1).getInt(1),
            r.getStruct(1).getInt(2)),
           (r.getStruct(2).getInt(0), r.getStruct(2).getInt(1),
            r.getStruct(2).getInt(2)))).toMap
      cases.foreach { case (t, want) =>
        val (k, c) = rows(Option(t))
        assert(c == want, s"composed form moved for '$t': $c")
        assert(k == want, s"kernel mismatch for '$t': $k vs $want")
      }
    }
    // SQL surface: registered, never null, (0, 0, 0) for null text
    val viaSql = Seq[String](null, "thethe").toDF("t")
      .selectExpr("char_trigram_scores(t) AS k").collect().map(_.getStruct(0))
    assert(viaSql.map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq ==
      Seq((0, 0, 0), (2, 0, 0)))
  }

  test("char_trigram_scores == the composed trigram form on random, " +
      "NUL-bearing and malformed-UTF-8 text (8 partitions, both eval paths)") {
    import spark.implicits._
    import graft.functions.CharTrigramScoresExpr
    import org.scalacheck.rng.Seed
    val profiles = CharTrigramScoresExpr.Profiles
    // alphabet dense in profile letters, plus spaces, NUL, multi-byte
    // and astral characters, so matches straddle every width
    val alphabet = "thengadriscuoql ".map(_.toString) ++
      Seq("\u0000", "é", "ï", "ü", "😀", "ñ")
    val texts = Gen.listOfN(400, Gen.chooseNum(0, 40).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf(alphabet)).map(_.mkString)))
      .pureApply(Gen.Parameters.default, Seed(7L))
    // malformed UTF-8: lead bytes without continuations, stray
    // continuation bytes and 0xFF, cast from binary as Spark reads it
    val bytes = Gen.listOfN(200, Gen.chooseNum(0, 24).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf[Byte]('t'.toByte, 'h'.toByte, 'e'.toByte,
          ' '.toByte, 'r'.toByte, 0xC3.toByte, 0xE0.toByte, 0xF0.toByte,
          0x80.toByte, 0xA9.toByte, 0xFF.toByte)).map(_.toArray)))
      .pureApply(Gen.Parameters.default, Seed(8L))
    val frame = texts.toDF("t")
      .union(bytes.toDF("b").select($"b".cast("string").as("t")))
      .union(Seq[String](null).toDF("t"))
      .repartition(8)
    bothEvalPaths {
      val diff = frame.select($"t",
          CharTrigramScoresExpr.charTrigramScores($"t").as("k"),
          struct(ComposedForms.trigramScores($"t", profiles): _*).as("c"))
        .filter(!(($"k.en" === $"c.col1") && ($"k.de" === $"c.col2") &&
          ($"k.fr" === $"c.col3")))
        .collect()
      assert(diff.isEmpty, diff.take(5).mkString("\n"))
    }
    // non-vacuous: the corpus does hit every profile
    val hits = frame.select(CharTrigramScoresExpr.charTrigramScores($"t")
      .as("k")).agg(sum($"k.en"), sum($"k.de"), sum($"k.fr")).head()
    assert((0 until 3).forall(i => hits.getLong(i) > 0), hits)
  }

  test("x5_langid_ngram == the composed trigram query, row for row") {
    import spark.implicits._
    import graft.functions.CharTrigramScoresExpr
    val dir = "/root/testdata/sf0.001"
    val Seq(en, de, fr) = ComposedForms.trigramScores($"text",
      CharTrigramScoresExpr.Profiles)
    val composed = graft.core.Tables.documents(spark, dir)
      .select($"doc_id", en.cast("bigint").as("en_score"),
        de.cast("bigint").as("de_score"), fr.cast("bigint").as("fr_score"),
        when(en >= de && en >= fr, "en").when(de >= fr, "de")
          .otherwise("fr").as("pred_lang"))
    val fused = SparkEntry.queries("x5_langid_ngram")(spark, dir)
    assert(fused.schema == composed.schema)
    assert(fused.exceptAll(composed).isEmpty && composed.exceptAll(fused).isEmpty)
    assert(fused.count() == composed.count() && fused.count() > 0)
  }
}
