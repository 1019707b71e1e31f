package graft

import graft.functions.{HashedShinglesExpr, SimHashExpr}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Differential tests for the dedup CANDIDATE-GENERATION algebra.
  *
  * The DuckDB oracle replays the same blocking scheme as the engine, so
  * it cannot catch a blocking key that silently loses candidates. These
  * specs compare the blocked pipelines against brute-force all-pairs
  * references on small corpora, proving the completeness claims:
  *   - shingle-blocked Jaccard finds EVERY pair above threshold
  *     (any pair with jaccard > 0 shares a shingle);
  *   - 8-bit SimHash banding finds EVERY pair within Hamming 3
  *     (pigeonhole: ≤3 differing bits cannot touch all 4 bands);
  *   - LSH band pairs are exactly the signature-agreement pairs.
  */
class DedupDifferentialSpec extends SparkSpec {

  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    Gen.listOfN(n, g).pureApply(Gen.Parameters.default, Seed(1337L))

  // small vocab + short docs => plenty of genuine near-dups
  private val docGen: Gen[String] = {
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps",
      "zeta", "eta", "theta")
    for {
      n <- Gen.chooseNum(0, 10)
      ws <- Gen.listOfN(n, word)
    } yield ws.mkString(" ")
  }

  /** Base docs plus exact copies and one-word-mutated variants, so the
    * corpus is guaranteed to hold qualifying near-dup pairs at any
    * threshold (like the driver's synthetic documents table).
    */
  private def nearDupCorpus(nBase: Int): Seq[(Long, String)] = {
    val base = sample(for {
      n <- Gen.chooseNum(6, 12)
      ws <- Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta",
        "eps", "zeta", "eta", "theta"))
    } yield ws, nBase)
    val mutation = sample(Gen.chooseNum(0, 5), nBase)
    base.zip(mutation).zipWithIndex.flatMap { case ((ws, m), i) =>
      val copy = ws.mkString(" ")
      val mutated = ws.updated(m % ws.length, "OMEGA").mkString(" ")
      Seq(copy, copy, mutated)
    }.zipWithIndex.map { case (t, i) => (i.toLong, t) }
  }

  private def shingleSet(text: String): Set[Long] = {
    val toks = text.split("\\s+").filter(_.nonEmpty)
    if (toks.length < 3) Set.empty
    else toks.sliding(3).map(_.map(t =>
      BigInt(t.hashCode) mod BigInt(4294967296L))
      .reduceLeft((g, h) => (g * 1000003 + h) mod BigInt(4294967296L))
      .toLong).toSet
  }

  test("shingle-blocked Jaccard pairs == brute-force all-pairs (completeness)") {
    import spark.implicits._
    val docs = nearDupCorpus(20) ++
      sample(docGen, 15).zipWithIndex.map { case (t, i) => (1000L + i, t) }
    val threshold = 0.3
    // brute force: all C(60,2) pairs on the driver
    val expected = (for {
      (i, ti) <- docs
      (j, tj) <- docs if i < j
      si = shingleSet(ti); sj = shingleSet(tj)
      inter = (si & sj).size
      if inter > 0
      jac = inter.toDouble / (si.size + sj.size - inter)
      if jac >= threshold
    } yield (i, j, jac)).toSet
    // engine: the shingle-blocked self-join shape, over a test frame
    val sh = docs.toDF("doc_id", "text")
      .select($"doc_id", HashedShinglesExpr.hashedShingles($"text", 3).as("arr"))
      .select($"doc_id", size($"arr").cast("long").as("n_sh"),
        explode($"arr").as("shingle"))
    val got = sh.as("a")
      .join(sh.as("b"), $"a.shingle" === $"b.shingle" &&
        $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_i"), $"b.doc_id".as("doc_j"))
      .agg(count(lit(1)).as("n_common"),
        min($"a.n_sh").as("n_i"), min($"b.n_sh").as("n_j"))
      .select($"doc_i", $"doc_j",
        ($"n_common".cast("double") / ($"n_i" + $"n_j" - $"n_common"))
          .as("jaccard"))
      .filter($"jaccard" >= threshold)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == expected,
      s"missing=${expected -- got}\nspurious=${got -- expected}")
    assert(expected.nonEmpty, "degenerate corpus: no qualifying pairs")
  }

  test("simhash 8-bit banding finds every pair within Hamming 3 (pigeonhole)") {
    import spark.implicits._
    val docs = nearDupCorpus(25) ++
      sample(docGen, 20).zipWithIndex.map { case (t, i) => (2000L + i, t) }
    def sim(text: String): Long = {
      val hs = text.split("\\s+").filter(_.nonEmpty)
        .map(t => BigInt(t.hashCode).mod(BigInt(4294967296L)).toLong)
      (0 until 32).map { b =>
        val votes = hs.map(h => if (((h >> b) & 1L) == 1L) 1 else -1).sum
        if (votes > 0) 1L << b else 0L
      }.sum
    }
    val expected = (for {
      (i, ti) <- docs
      (j, tj) <- docs if i < j
      h = java.lang.Long.bitCount(sim(ti) ^ sim(tj))
      if h <= 3
    } yield (i, j, h.toLong)).toSet
    // engine shape: distinct-hash canonicalization + band join + expand
    // (same pipeline as d4_simhash_pairs, over a test frame)
    val groups = docs.toDF("doc_id", "text")
      .select($"doc_id", SimHashExpr.simhash32($"text").as("simhash"))
      .groupBy($"simhash")
      .agg(sort_array(collect_list($"doc_id")).as("ids"))
    val intra = groups
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids)), y -> struct(x, y))))"""
          .stripMargin)).as("p"))
      .select($"p.x".as("doc_i"), $"p.y".as("doc_j"), lit(0L).as("hamming"))
    val bands = groups.select($"simhash", $"ids", posexplode(
        array((0 until 4).map(b =>
          shiftright($"simhash", b * 8).bitwiseAND(lit(255L))): _*)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_key")
    val inter = bands.as("a")
      .join(bands.as("b"),
        $"a.band_idx" === $"b.band_idx" && $"a.band_key" === $"b.band_key" &&
        $"a.simhash" < $"b.simhash")
      .select($"a.ids".as("ids_a"), $"b.ids".as("ids_b"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("bigint").as("hamming"))
      .filter($"hamming" <= 3)
      .distinct()
      .select(explode($"ids_a").as("x"), $"ids_b", $"hamming")
      .select($"x", explode($"ids_b").as("y"), $"hamming")
      .select(least($"x", $"y").as("doc_i"),
        greatest($"x", $"y").as("doc_j"), $"hamming")
    val got = intra.unionAll(inter)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expected,
      s"missing=${expected -- got}\nspurious=${got -- expected}")
    assert(expected.exists(_._3 > 0), "want at least one nonzero-distance pair")
  }

  test("LSH band pairs == brute-force signature-agreement pairs") {
    import spark.implicits._
    // the PRODUCTION constants and pipeline — a drifted private copy
    // here would let a Dedup regression ship uncaught
    import graft.queries.Dedup.{BandSize, NumPerm, P}
    val docs = nearDupCorpus(15) ++
      sample(docGen, 10).zipWithIndex.map { case (t, i) => (3000L + i, t) }
    def sig(text: String): Seq[Long] = {
      val sh = shingleSet(text)
      if (sh.isEmpty) Seq.empty
      else (0 until NumPerm).map { j =>
        sh.map(h => (h * (2L * j + 1) + 12345L * j + 1) % P).min
      }
    }
    val sigs = docs.map { case (i, t) => i -> sig(t) }.filter(_._2.nonEmpty)
    val expected = (for {
      (i, si) <- sigs
      (j, sj) <- sigs if i < j
      if (0 until NumPerm / BandSize).exists(b =>
        si.slice(b * BandSize, (b + 1) * BandSize) ==
          sj.slice(b * BandSize, (b + 1) * BandSize))
    } yield (i, j)).toSet
    // hashed shingles -> the composed minhash agg -> the production
    // band exchange
    val sigDf = ComposedForms.minhashSigsOf(
      docs.toDF("doc_id", "text")
        .select($"doc_id", explode(graft.functions.HashedShinglesExpr
          .hashedShingles($"text", 3)).as("shingle")))
    val got = graft.queries.Dedup.lshBandPairs(sigDf)
      .select($"doc_i", $"doc_j")
      .as[(Long, Long)].collect().toSet
    assert(got == expected,
      s"missing=${expected -- got}\nspurious=${got -- expected}")
    assert(expected.nonEmpty, "degenerate corpus: no band collisions")
  }

  test("minhash_sig == the composed explode + min-aggregate signature " +
      "(fixtures, 8 partitions, both eval paths)") {
    import spark.implicits._
    import graft.queries.Dedup.minhashSig
    val docs = (nearDupCorpus(15) ++
      sample(docGen, 10).zipWithIndex.map { case (t, i) => (3000L + i, t) })
      .toDF("doc_id", "text")
      .union(spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select($"doc_id" + 100000L, $"text"))
    val arr = docs.select($"doc_id",
        HashedShinglesExpr.hashedShingles($"text", 3).as("arr"))
      .repartition(8)
    // u32 edge values and null elements, which `min` skips
    val edge = Seq[(Long, Seq[java.lang.Long])](
        (-1L, Seq(0L, 4294967295L)), (-2L, Seq(null, 7L, null)),
        (-3L, Seq(4294967295L)), (-4L, Seq(5L, 0L, 5L)))
      .toDF("doc_id", "arr")
    val all = arr.union(edge).repartition(8)
    val composed = ComposedForms.minhashSigsOf(
      all.select($"doc_id", explode($"arr").as("shingle")))
    bothEvalPaths {
      val fused = all.filter(size($"arr") > 0)
        .select($"doc_id", minhashSig($"arr").as("sig"))
      assert(fused.exceptAll(composed).isEmpty &&
        composed.exceptAll(fused).isEmpty,
        "rowwise signature differs from the composed aggregate")
      assert(fused.count() == composed.count() && fused.count() > 100)
    }
    // an empty or null shingle array has no signature (not a null one)
    val none = Seq[(Long, Seq[Long])]((1L, Seq.empty)).toDF("doc_id", "arr")
      .union(Seq((2L, null: Seq[Long])).toDF("doc_id", "arr"))
      .select(minhashSig($"arr")).as[Seq[Long]].collect()
    assert(none.toSeq == Seq(Seq.empty, Seq.empty))
    // SQL surface agrees with the Scala API
    assert(Seq(Seq(0L, 9L)).toDF("a").selectExpr("minhash_sig(a)")
      .as[Seq[Long]].head() == Seq(Seq(0L, 9L)).toDF("a")
      .select(minhashSig($"a")).as[Seq[Long]].head())
  }

  test("band exchange: reps sharing a signature and a planted hot band " +
      "pair exactly as brute force, memberships carried") {
    import spark.implicits._
    import graft.queries.Dedup.{BandSize, NumPerm, minhashSig}
    // two DISTINCT shingle sets with one signature: 5·(2j+1) never wraps
    // below P, so shingle 5 never beats shingle 0's minimum
    val shared = Seq((1L, Seq(1L, 7L), Seq(0L)), (2L, Seq(2L), Seq(0L, 5L)),
        (3L, Seq(3L), Seq(11L, 12L, 13L)))
      .toDF("doc_id", "ids", "arr")
      .select($"doc_id", $"ids", minhashSig($"arr").as("sig"))
      .as[(Long, Seq[Long], Seq[Long])].collect().toSeq
    assert(shared(0)._3 == shared(1)._3 && shared(0)._3 != shared(2)._3,
      "fixture: reps 1 and 2 must share a signature")
    // planted hot band: 30 reps agree on band 0 only; 100/101 on band 2
    def sigOf(band0: Seq[Long], rest: Long): Seq[Long] =
      band0 ++ (BandSize until NumPerm).map(j => rest * 1000 + j)
    val hot = (10L until 40L).map(i =>
      (i, Seq(i, i + 500), sigOf(Seq.fill(BandSize)(1L), i)))
    val cold = Seq(100L, 101L).map(i => (i, Seq(i),
      (0 until 2 * BandSize).map(j => i * 1000 + j) ++ Seq.fill(BandSize)(9L) ++
        (3 * BandSize until NumPerm).map(j => i * 1000 + j)))
    val reps = shared ++ hot ++ cold
    val expected = (for {
      (i, idsI, si) <- reps; (j, idsJ, sj) <- reps if i < j
      if (0 until NumPerm / BandSize).exists(b =>
        si.slice(b * BandSize, (b + 1) * BandSize) ==
          sj.slice(b * BandSize, (b + 1) * BandSize))
    } yield (i, j, idsI, idsJ)).toSet
    assert(expected.size == 1 + 30 * 29 / 2 + 1, s"fixture: ${expected.size}")
    val got = graft.queries.Dedup.lshBandPairs(
        reps.toDF("doc_id", "ids", "sig").repartition(8))
      .select($"doc_i", $"doc_j", $"ids_i", $"ids_j")
      .as[(Long, Long, Seq[Long], Seq[Long])].collect()
    assert(got.toSet == expected,
      s"missing=${expected -- got}\nspurious=${got.toSet -- expected}")
    assert(got.length == expected.size, "a pair agreeing on several bands " +
      "must be emitted once")
  }

  test("LSH candidate pin == brute-force rep pairs over sf0.001 content " +
      "groups") {
    import spark.implicits._
    import graft.queries.Dedup.{BandSize, NumPerm, P}
    val dir = "/root/testdata/sf0.001"
    graft.queries.Dedup.evictCaches(spark, Some(dir))
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    // independent reference: content groups by shingle SET, rep = min
    // doc_id, signature and banding in plain Scala
    val groups = texts.map { case (i, t) => i -> shingleSet(t) }
      .filter(_._2.nonEmpty).groupBy(_._2).values
      .map(g => g.map(_._1).sorted.toSeq -> g.head._2).toSeq
    def sig(sh: Set[Long]): Seq[Long] = (0 until NumPerm).map(j =>
      sh.map(h => (h * (2L * j + 1) + 12345L * j + 1) % P).min)
    val sigs = groups.map { case (ids, sh) => (ids, sig(sh)) }
    val expected = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a.head < b.head
      if (0 until NumPerm / BandSize).exists(k =>
        sa.slice(k * BandSize, (k + 1) * BandSize) ==
          sb.slice(k * BandSize, (k + 1) * BandSize))
    } yield (a.head, b.head, a, b)).toSet
    val got = graft.queries.Dedup.lshRepCandPairs(spark, dir)
      .select($"doc_i", $"doc_j", $"ids_i", $"ids_j")
      .as[(Long, Long, Seq[Long], Seq[Long])].collect()
    assert(got.toSet == expected,
      s"missing=${(expected -- got).take(10)}\n" +
        s"spurious=${(got.toSet -- expected).take(10)}")
    assert(got.length == expected.size && expected.nonEmpty)
    graft.queries.Dedup.evictCaches(spark, Some(dir))
  }

  test("pinned rep-candidate expansion (d3) == doc-level band join (value identity)") {
    import spark.implicits._
    // r16 verdict item 2: d3_lsh_pairs now expands the pinned rep-level
    // candidate frame instead of re-deriving the full-corpus band join.
    // Prove value identity on the real fixture: the expansion (inter
    // rep-pair cross products + within-content-group pairs) emits
    // EXACTLY the doc-level band pairs over every document's signature.
    val dir = "/root/testdata/sf0.001"
    graft.queries.Dedup.evictCaches(spark, Some(dir))
    val got = graft.queries.Dedup.lshCandDocPairs(spark, dir)
      .select($"doc_i", $"doc_j")
      .as[(Long, Long)].collect().toSet
    val docSigs = ComposedForms.minhashSigsOf(
      spark.read.parquet(s"$dir/documents.parquet")
        .select($"doc_id", explode(HashedShinglesExpr
          .hashedShingles($"text", 3)).as("shingle")))
    val expected = graft.queries.Dedup.lshBandPairs(docSigs)
      .select($"doc_i", $"doc_j")
      .as[(Long, Long)].collect().toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(20)}\n" +
        s"spurious=${(got -- expected).take(20)}")
    assert(expected.nonEmpty, "degenerate fixture: no band collisions")
    assert(got.size == graft.queries.Dedup.lshCandDocPairs(spark, dir).count(),
      "expansion emitted duplicate pair rows")
    graft.queries.Dedup.evictCaches(spark, Some(dir))
  }

  /** Every doc pair of `dir`'s documents that shares a shingle, with
    * its exact Jaccard, by brute force on the driver.
    */
  private def bruteForceJaccard(dir: String): Set[(Long, Long, Double)] = {
    import spark.implicits._
    val sets = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (i, t) => i -> shingleSet(t) }.sortBy(_._1)
    (for {
      a <- sets.indices; b <- a + 1 until sets.length
      (i, si) = sets(a); (j, sj) = sets(b)
      inter = (si & sj).size if inter > 0
    } yield (i, j, inter.toDouble / (si.size + sj.size - inter))).toSet
  }

  test("d11_lsh_verify: exactly d3's candidate pairs, each with its " +
      "brute-force Jaccard") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    graft.queries.Dedup.evictCaches(spark, Some(dir))
    val d11 = SparkEntry.queries("d11_lsh_verify")(spark, dir)
      .select($"doc_i", $"doc_j", $"jaccard")
      .as[(Long, Long, Double)].collect()
    val d3 = SparkEntry.queries("d3_lsh_pairs")(spark, dir)
      .select($"doc_i", $"doc_j").as[(Long, Long)].collect().toSet
    assert(d11.map(r => (r._1, r._2)).toSet == d3 && d11.length == d3.size,
      "d11 must verify each d3 candidate pair exactly once")
    val exact = bruteForceJaccard(dir).map(r => (r._1, r._2) -> r._3).toMap
    val wrong = d11.filter(r => exact.getOrElse((r._1, r._2), 0.0) != r._3)
    assert(wrong.isEmpty, s"jaccard differs from brute force: ${wrong.take(10).toSeq}")
    assert(d3.nonEmpty, "degenerate fixture: no candidates")
    graft.queries.Dedup.evictCaches(spark, Some(dir))
  }

  test("shared pair frame: ONE pair-gen per (session, dir); thresholds are filters") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    graft.queries.Dedup.evictCaches(spark, Some(dir))
    val base = graft.queries.Dedup.sharedJaccardPairs(
      spark, dir, graft.queries.Dedup.BasePairThreshold)
    val again = graft.queries.Dedup.sharedJaccardPairs(
      spark, dir, graft.queries.Dedup.BasePairThreshold)
    assert(base eq again, "base requests must return the SAME pinned frame")
    // a t >= base request is a filter of the pinned frame, and must be
    // value-identical to an all-pairs Jaccard at t (threshold
    // monotonicity), computed on the driver independently of the pins
    val filtered = graft.queries.Dedup.sharedJaccardPairs(spark, dir, 0.5)
      .select($"doc_i", $"doc_j", $"jaccard")
      .as[(Long, Long, Double)].collect()
    val direct = bruteForceJaccard(dir).filter(_._3 >= 0.5)
    assert(filtered.toSet == direct,
      s"missing=${(direct -- filtered).take(10)}\n" +
        s"spurious=${(filtered.toSet -- direct).take(10)}")
    assert(filtered.length == direct.size, "duplicate pair rows")
    assert(direct.nonEmpty, "degenerate fixture: no pairs at 0.5")
    // below-base requests would silently need a new pair-gen: refuse
    intercept[IllegalArgumentException] {
      graft.queries.Dedup.sharedJaccardPairs(spark, dir, 0.1)
    }
    graft.queries.Dedup.evictCaches(spark, Some(dir))
    val c = graft.queries.Dedup.sharedJaccardPairs(
      spark, dir, graft.queries.Dedup.BasePairThreshold)
    assert(!(c eq base), "eviction must drop the pinned entry")
    graft.queries.Dedup.evictCaches(spark)
  }

  test("incremental dedup (d18): flags new-vs-ref dups only, never new-vs-new") {
    import spark.implicits._
    // hashSample(doc_id, 0.5) splits ids into ref/new deterministically;
    // find one id of each side, then plant: one NEW doc duplicating a
    // REF doc (must flag) and two identical NEW docs (must NOT flag —
    // the increment never self-joins; intra-batch dedup is d1/d2's job).
    def isRef(id: Long): Boolean =
      graft.functions.HashFunctions.knuthHashJvm(id) < 2147483648L
    val refId = (0L to 100L).find(isRef).get
    val newIds = (0L to 100L).filterNot(isRef).take(3)
    val Seq(n1, n2, n3) = newIds
    val a = "alpha beta gamma delta epsilon zeta eta theta"
    val b = "uno dos tres cuatro cinco seis siete ocho"
    val docs = Seq(
      (refId, a), // reference original
      (n1, a),    // new dup of the reference doc → flagged
      (n2, b), (n3, b)) // identical new docs → NOT flagged
      .map { case (i, t) => (i, t, "en", "src", t.length.toLong) }
    val dir = java.nio.file.Files.createTempDirectory("graft_incr").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = graft.SparkEntry.queries("d18_incremental_dedup")(spark, dir)
      .select($"doc_id", $"n_dup_partners", $"best_ref")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet == Set(n1), s"only the ref-dup flags, got $got")
    assert(got(n1) == ((1L, refId)))
  }

  test("incremental dedup (d18): content pre-collapse ≡ doc-level join (copy-heavy corpus)") {
    import spark.implicits._
    // nearDupCorpus plants verbatim copies and near-dup mutants; the
    // hash-split scatters each content's copies across ref AND fresh,
    // exercising every collapse case: multi-member groups on both
    // sides, identical contents meeting across the split (jaccard 1
    // through their shared shingles), and singleton reps. Expected =
    // brute-force doc-level replay of the pre-r16 join in plain Scala.
    def isRef(id: Long): Boolean =
      graft.functions.HashFunctions.knuthHashJvm(id) < 2147483648L
    val docs = nearDupCorpus(14)
    val sets = docs.map { case (i, t) => i -> shingleSet(t) }.toMap
    val (refIds, freshIds) = docs.map(_._1).partition(isRef)
    val expected = freshIds.flatMap { f =>
      val sf = sets(f)
      val hits = refIds.flatMap { r =>
        val sr = sets(r)
        val inter = (sf & sr).size.toDouble
        if (inter == 0) None
        else {
          val j = inter / (sf.size + sr.size - inter)
          if (j >= 0.5) Some((r, j)) else None
        }
      }
      if (hits.isEmpty) None
      else {
        val best = hits.maxBy { case (r, j) => (j, -r) }
        Some((f, hits.size.toLong, best._2, best._1))
      }
    }.toSet
    val dir = java.nio.file.Files.createTempDirectory("graft_incr2").toString
    docs.map { case (i, t) => (i, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = graft.SparkEntry.queries("d18_incremental_dedup")(spark, dir)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(got == expected, s"collapse ≠ doc-level: got ${got.size} rows, " +
      s"expected ${expected.size}")
    // non-vacuity: the split must leave verbatim copies on BOTH sides
    // (otherwise the collapse path degenerates to the old join shape)
    val textOf = docs.toMap
    assert(refIds.groupBy(textOf).exists(_._2.size >= 2) &&
      freshIds.groupBy(textOf).exists(_._2.size >= 2),
      "fixture lost its same-side verbatim copies")
  }

  test("edit verify (d17): lev is per TEXT pair — equal shingle sets do NOT imply lev 0") {
    import spark.implicits._
    // r17 ADVICE (high): the r17 form collapsed lev on the hashed
    // shingle SET and hard-coded lev=0 within a group — but whitespace
    // variants tokenize identically (same arr) while their raw texts
    // differ, so the true per-doc-pair edit distance is nonzero.
    // Fixture: docs 0/1/2 share ONE shingle set (1 = double-space
    // variant, 2 = byte copy of 0); docs 3/4 are a second set-identical
    // group (one word mutated vs 0, so cross-group jaccard ≈ 0.33
    // qualifies at base 0.3; 4 = whitespace variant of 3). Expected =
    // brute-force all-pairs with REAL character-level levenshtein.
    val t0 = "alpha beta gamma delta eps zeta eta theta"
    val t1 = "alpha  beta gamma delta eps zeta eta theta"
    val t3 = "alpha beta gamma OMEGA eps zeta eta theta"
    val t4 = "alpha beta gamma OMEGA eps zeta eta  theta"
    val docs = Seq((0L, t0), (1L, t1), (2L, t0), (3L, t3), (4L, t4))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expected = (for {
      (i, ti) <- docs
      (j, tj) <- docs if i < j
      si = shingleSet(ti); sj = shingleSet(tj)
      inter = (si & sj).size
      if inter > 0
      jac = inter.toDouble / (si.size + sj.size - inter)
      if jac >= graft.queries.Dedup.BasePairThreshold
      l = lev(ti, tj)
      rd = l.toDouble / math.max(ti.length, tj.length)
    } yield (i, j, jac, l.toLong, rd, if (rd <= 0.05) 1L else 0L)).toSet
    // non-vacuity: the exact bug class — a jaccard-1 (set-identical)
    // pair with nonzero true edit distance — must be present
    assert(expected.exists(p => p._3 == 1.0 && p._4 > 0L),
      "fixture regressed: no arr-identical-but-text-different pair")
    assert(expected.exists(p => p._4 == 0L), "want a byte-identical pair too")
    assert(expected.exists(p => p._3 < 1.0), "want a cross-group pair too")
    val dir = java.nio.file.Files.createTempDirectory("graft_d17").toString
    docs.map { case (i, t) => (i, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    try {
      val got = graft.SparkEntry.queries("d17_edit_verify")(spark, dir)
        .as[(Long, Long, Double, Long, Double, Long)].collect().toSet
      assert(got == expected,
        s"missing=${expected -- got}\nspurious=${got -- expected}")
    } finally graft.queries.Dedup.evictCaches(spark, Some(dir))
  }

  test("CDC chunks (x19) realign after an insertion; fixed-stride chunks don't") {
    import spark.implicits._
    // base = 200 distinct tokens; shifted = one token INSERTED at the
    // front. Fixed-stride windows (x10's 64/48) all slide by one token
    // → zero shared fingerprints. CDC boundaries depend on token
    // content, so every chunk after the first boundary is identical in
    // both docs → shared fingerprints survive the edit. This is the
    // property content-defined chunking exists for.
    val baseToks = (0 until 200).map(i => s"cdc$i")
    val docs = Seq(
      (0L, baseToks.mkString(" ")),
      (1L, ("INS" +: baseToks).mkString(" ")))
      .map { case (i, t) => (i, t, "en", "src", t.length.toLong) }
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val cdc = graft.queries.TextAnalytics.cdcChunkFrame(
        graft.core.Tables.documents(spark, dir))
      .select($"doc_id", $"fp").as[(Long, Long)].collect()
    val cdcShared = cdc.filter(_._1 == 0L).map(_._2).toSet
      .intersect(cdc.filter(_._1 == 1L).map(_._2).toSet)
    assert(cdcShared.nonEmpty,
      "CDC chunks must realign downstream of the first content boundary")
    // fixed-stride comparison on the SAME corpus: x10's chunk frame
    val fixed = graft.queries.TextAnalytics.chunkFrame(spark, dir)
      .select($"doc_id", $"fp").as[(Long, Long)].collect()
    val fixedShared = fixed.filter(_._1 == 0L).map(_._2).toSet
      .intersect(fixed.filter(_._1 == 1L).map(_._2).toSet)
    assert(fixedShared.isEmpty,
      "fixed-stride windows must all shift under a head insertion " +
        s"(got shared $fixedShared)")
    // sanity: both docs produced multiple CDC chunks (boundaries fired)
    assert(cdc.count(_._1 == 0L) > 1, "no content boundary fired in 200 tokens")
  }

  test("containment (d16) keeps subset pairs the Jaccard threshold loses") {
    import spark.implicits._
    // small = the first 8 words of big → every small shingle is in big:
    // containment 1.0, but Jaccard = 6/38 ≈ 0.16 < base 0.3. The OR
    // base predicate of the shared stats frame must retain the pair for
    // the containment side while the Jaccard side never sees it.
    val words = (1 to 40).map(i => s"w$i")
    val big = words.mkString(" ")               // 38 shingles
    val small = words.take(8).mkString(" ")     // 6 shingles, all ⊂ big
    val other = (1 to 10).map(i => s"z$i").mkString(" ")
    val docs = Seq((0L, small), (1L, big), (2L, other))
      .map { case (i, t) => (i, t, "en", "src", t.length.toLong) }
    val dir = java.nio.file.Files.createTempDirectory("graft_contain").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    try {
      val cont = graft.queries.Dedup.sharedContainmentPairs(
          spark, dir, graft.queries.Dedup.ContainBaseThreshold)
        .select($"doc_i", $"doc_j", $"containment", $"jaccard")
        .as[(Long, Long, Double, Double)].collect()
      assert(cont.map(p => (p._1, p._2)).toSet == Set((0L, 1L)),
        s"expected exactly the subset pair, got ${cont.toSeq}")
      val (_, _, containment, jaccard) = cont.head
      assert(containment == 1.0, s"full subset must score 1.0, got $containment")
      assert(jaccard < graft.queries.Dedup.BasePairThreshold,
        "fixture must be a containment-ONLY pair (jaccard below base)")
      // the Jaccard accessor over the SAME pinned frame must not leak it
      val jac = graft.queries.Dedup.sharedJaccardPairs(
          spark, dir, graft.queries.Dedup.BasePairThreshold)
        .select($"doc_i", $"doc_j").as[(Long, Long)].collect().toSet
      assert(!jac.contains((0L, 1L)),
        "jaccard side must filter out the below-base subset pair")
      // containment >= jaccard on every retained pair (measure algebra)
      cont.foreach { case (i, j, c, jx) =>
        assert(c >= jx && c <= 1.0, s"($i,$j): containment $c vs jaccard $jx")
      }
    } finally graft.queries.Dedup.evictCaches(spark, Some(dir))
  }

  test("semantic dedup (d19): keep-first exemplar policy on planted duplicate groups") {
    import spark.implicits._
    def v(parts: (Int, Float)*): Array[Float] = {
      val a = Array.fill(64)(0f); parts.foreach { case (i, x) => a(i) = x }; a
    }
    // exemplars 0/1/2 span three orthogonal directions (= cents0 at
    // k=3); 3/4 duplicate exemplar 0, 5 duplicates exemplar 1, 6 is a
    // lone fourth direction (cosine 0 to everything).
    val corpus = Seq(
      0L -> v(0 -> 1f), 1L -> v(1 -> 1f), 2L -> v(2 -> 1f),
      3L -> v(0 -> 1f), 4L -> v(0 -> 1f), 5L -> v(1 -> 1f),
      6L -> v(3 -> 1f)).toDF("vec_id", "embedding")
    val got = graft.queries.Similarity.semanticDedupFrame(corpus, 3, 0.9)
      .select($"vec_id", $"n_dups", $"dropped").as[(Long, Long, Long)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(got(3L) == ((1L, 1L)), s"dup of exemplar 0 must drop: $got")
    assert(got(4L) == ((2L, 1L)), "second dup counts both smaller-id twins")
    assert(got(5L) == ((1L, 1L)), "dup of exemplar 1 must drop")
    Seq(0L, 1L, 2L, 6L).foreach { id =>
      assert(got(id) == ((0L, 0L)), s"exemplar/singleton $id must keep")
    }
  }

  test("semantic dedup (d19) vs exact all-pairs (d5): within-cluster complete, cross-cluster is the documented miss") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val corpus = graft.core.Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding")
    val tau = 0.4
    // brute-force reference: exact cosine pairs + the cluster map
    val assign = graft.queries.Similarity.kmeansAssign(corpus, 8)
      .select($"vec_id", $"embedding", $"cid")
      .as[(Long, Array[Float], Long)].collect().sortBy(_._1)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble; i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val exactPairs = for {
      i <- assign.indices; j <- (i + 1) until assign.length
      if cos(assign(i)._2, assign(j)._2) >= tau
    } yield (assign(i)._1, assign(j)._1)
    val cid = assign.map(t => t._1 -> t._3).toMap
    val within = exactPairs.filter { case (a, b) => cid(a) == cid(b) }
    val cross = exactPairs.filterNot { case (a, b) => cid(a) == cid(b) }
    // expected d19 output derived from the reference
    val expDrop = within.map(_._2).toSet
    val expNDups = within.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val got = graft.queries.Similarity.semanticDedupFrame(corpus, 8, tau)
      .select($"vec_id", $"n_dups", $"dropped").as[(Long, Long, Long)]
      .collect()
    got.foreach { case (id, n, d) =>
      assert(n == expNDups.getOrElse(id, 0L),
        s"vec $id n_dups $n != brute-force ${expNDups.getOrElse(id, 0L)}")
      assert((d == 1L) == expDrop.contains(id), s"vec $id drop flag $d")
    }
    // soundness: every drop is justified by a real cosine>=tau pair;
    // the ONLY misses vs d5's exact path are cross-cluster pairs, and on
    // this corpus that miss set is nonempty — the SemDeDup trade is
    // real, not vacuous (candidate volume corpus^2/K buys recall < 1).
    assert(cross.nonEmpty,
      "fixture regressed: no cross-cluster exact pair left to miss")
    assert(within.nonEmpty, "fixture regressed: no within-cluster pair")
  }

  test("dup-graph PageRank (d20): isolated docs hold the (1-d)/N floor, hub docs rise above it") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val pr = graft.SparkEntry.queries("d20_dup_pagerank")(spark, dir)
      .as[(Long, Double)].collect().toMap
    val inGraph = graft.SparkEntry.queries("d3_lsh_pairs")(spark, dir)
      .as[(Long, Long)].collect().flatMap(p => Seq(p._1, p._2)).toSet
    val n = graft.core.Tables.documents(spark, dir).count()
    val floor = BigDecimal(0.15 / n)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(inGraph.nonEmpty, "fixture regressed: dup graph is empty")
    pr.foreach { case (id, p) =>
      if (inGraph.contains(id))
        assert(p > floor, s"doc $id is in the dup graph but sits at $p")
      else assert(p == floor,
        s"isolated doc $id must hold the floor $floor, got $p")
    }
    // probability-mass sanity: total rank <= 1 (dangling mass is lost,
    // never created)
    assert(pr.values.sum <= 1.0 + 1e-6)
  }

  test("leakage-free split (d21): no near-dup pair straddles splits; component is the unit") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    def splitOf(component: Long): String = {
      val b = graft.functions.HashFunctions.knuthHashJvm(component) % 100
      if (b < 80) "train" else if (b < 90) "val" else "test"
    }
    val comp = graft.queries.Dedup.dupComponents(spark, dir)
      .select("id", "component").as[(Long, Long)].collect().toMap
    // the leakage guarantee itself: every Jaccard>=0.5 pair — including
    // transitive chains, via the CC labels — moves as one unit
    val pairs = graft.SparkEntry.queries("d2_jaccard_pairs")(spark, dir)
      .select("doc_i", "doc_j", "jaccard").as[(Long, Long, Double)]
      .collect().filter(_._3 >= 0.5)
    assert(pairs.nonEmpty, "fixture regressed: no near-dup pairs to protect")
    pairs.foreach { case (i, j, _) =>
      assert(splitOf(comp(i)) == splitOf(comp(j)),
        s"near-dup pair ($i,$j) straddles train/eval splits")
    }
    // the aggregated query output is exactly the per-doc recomputation,
    // and all three splits are populated on this corpus
    val got = graft.SparkEntry.queries("d21_leakage_split")(spark, dir)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val exp = comp.toSeq.groupBy { case (_, c) => splitOf(c) }
      .map { case (sp, xs) =>
        sp -> ((xs.size.toLong, xs.map(_._2).distinct.size.toLong)) }
    assert(got == exp, s"aggregated split stats mismatch: $got vs $exp")
    assert(got.keySet == Set("train", "val", "test"))
  }

  test("snapshot diff (d22): status counts match the derivation rules") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val ids = graft.core.Tables.documents(spark, dir)
      .select($"doc_id").as[Long].collect()
    // replay the snapshot-B derivation rules doc-by-doc
    val removed = ids.count(_ % 11 == 0).toLong
    val changed = ids.count(i => i % 11 != 0 && i % 13 == 0).toLong
    val added = ids.count(_ % 17 == 0).toLong
    val unchanged = ids.length - removed - changed
    val got = graft.SparkEntry.queries("d22_snapshot_diff")(spark, dir)
      .select($"status", $"n_docs").as[(String, Long)].collect().toMap
    assert(got == Map("removed" -> removed, "changed" -> changed,
      "added" -> added, "unchanged" -> unchanged),
      s"status counts diverge from derivation rules: $got")
  }

  test("source overlap (d23): canonical pair order, jaccard bounds, nonempty") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("d23_source_overlap")(spark, dir)
      .as[(String, String, Long, Double)].collect()
    assert(rows.nonEmpty, "fixture regressed: no cross-source 8-gram overlap")
    rows.foreach { case (i, j, n, jac) =>
      assert(i < j, s"pair ($i,$j) not in canonical order")
      assert(n > 0 && jac > 0.0 && jac <= 1.0, s"jaccard out of range: $jac")
    }
    // no duplicate pair rows
    assert(rows.map(r => (r._1, r._2)).distinct.length == rows.length)
  }

  test("substring excision (d28): keep-first, full-dup empties, untouched uniques") {
    import spark.implicits._
    // doc 0: unique 12-token text — no window recurs, passes untouched.
    // doc 1: byte-copy of doc 0 — every 8-token window recurs, doc 0's
    //        occurrences are keepers (smaller doc_id), doc 1 empties.
    // doc 2: unique 10 tokens + doc 0's first 8 tokens appended — only
    //        that borrowed window (one gram, 8 tokens) excises.
    // doc 3: under W tokens — no grams, passes untouched.
    val u = "alpha beta gamma delta eps zeta eta theta iota kappa lam mu"
    val borrowed = "alpha beta gamma delta eps zeta eta theta"
    val docs = Seq(
      (0L, u),
      (1L, u),
      (2L, s"one two three four five six seven eight nine ten $borrowed"),
      (3L, "short doc only")
    ).toDF("doc_id", "text")
    val out = graft.queries.Dedup.substringExcision(docs, 8)
      .select($"doc_id", $"n_toks", $"n_excised", $"n_kept", $"checksum")
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    def h(s: String): Long = s.hashCode.toLong
    assert(out(0L) == ((12L, 0L, 12L, h(u))),
      s"keeper doc must pass through byte-identical: ${out(0L)}")
    assert(out(1L) == ((12L, 12L, 0L, 0L)),
      s"full duplicate must excise to empty: ${out(1L)}")
    assert(out(2L) == ((18L, 8L, 10L,
      h("one two three four five six seven eight nine ten"))),
      s"borrowed window must excise, rest survives byte-exact: ${out(2L)}")
    assert(out(3L) == ((3L, 0L, 3L, h("short doc only"))),
      s"sub-W doc must pass through: ${out(3L)}")
  }

  test("LSH-scaled components (d26) refine the exact components (d7)") {
    // d26's verified pair set is the LSH-candidate RESTRICTION of d7's
    // exact jaccard>=0.5 pair graph (same threshold, fewer edges), so
    // every d26 cluster must sit wholly inside one d7 component, and
    // d26 can never find MORE non-trivial clustered docs than d7.
    // (d14 measures the recall differential; this pins the structural
    // subset relationship end-to-end through both CC runs.)
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val exact = graft.queries.Dedup.dupComponents(spark, dir)
      .select($"id", $"component".as("exact_comp"))
    // replay d26's pair graph → CC at member level (the query itself
    // aggregates to cluster sizes, so recompute the assignment here)
    val lshSizes = graft.SparkEntry
      .queries("d26_lsh_dedup_components")(spark, dir)
      .as[(Long, Long)].collect()
    val exactSizes = graft.SparkEntry
      .queries("d7_dup_components")(spark, dir)
      .as[(Long, Long)].collect()
    assert(lshSizes.nonEmpty, "fixture regressed: no LSH dup clusters")
    // docs in non-trivial LSH clusters ⊆ docs in non-trivial exact ones
    assert(lshSizes.map(_._2).sum <= exactSizes.map(_._2).sum,
      "LSH components cover more docs than the exact graph — impossible")
    // component REPRESENTATIVES: every d26 cluster id (min doc of the
    // cluster) must be clustered in d7 with an equal-or-larger cluster
    val exactByComp = exactSizes.toMap
    val exactAssign = exact.as[(Long, Long)].collect().toMap
    lshSizes.foreach { case (comp, n) =>
      val host = exactAssign(comp)
      assert(exactByComp.getOrElse(host, 1L) >= n,
        s"d26 cluster $comp (n=$n) exceeds its hosting d7 component")
    }
  }
}
