package graft.core

import graft.functions.{CharTrigramScoresExpr, HashedShinglesExpr, JavaStringHashCode, MinHashBandsExpr, MinHashSigExpr, RepetitionStatsExpr, SimHashExpr}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Engine extensions registered via `SparkSessionExtensions` — the
  * supported Spark extension point (enable with
  * `.config("spark.sql.extensions", "graft.core.GraftExtensions")` or
  * `GraftSession.local`, which wires it in).
  *
  * Injects the engine's codegen'd text/hash primitives into the SQL
  * surface so SQL users get the same parity-checked functions as the
  * Scala API (SURVEY §4: engine-level sugar belongs in the
  * FunctionRegistry, not a custom strategy):
  *   - `java_string_hashcode(str)` — Java `String.hashCode`;
  *   - `hashed_shingles(str, n)` — distinct hashed word n-gram shingles;
  *   - `simhash32(str)` — 32-bit token-vote SimHash;
  *   - `repetition_stats(str)` — (n_tokens, n_distinct, top_bigram_n)
  *     struct for Gopher-style repetition quality signals;
  *   - `minhash_bands(str, n, numPerm, bandSize)` — MinHash LSH band
  *     keys (P = 2^31−1 permutation family), the streaming near-dup
  *     blocking primitive;
  *   - `minhash_sig(shingles)` — rowwise MinHash signature of a shingle
  *     `array<long>` (the dedup family's 16 permutations, the same loop
  *     as `minhash_bands`);
  *   - `char_trigram_scores(str)` — (en, de, fr) struct counting the
  *     text's character trigrams found in each language profile (the x5
  *     language-ID primitive);
  *   - `cosine_f32(a, b)` — fused cosine similarity over float arrays
  *     (one JIT'd loop; the kNN scoring primitive);
  *   - `poly_fp_windows(str, w)` — every w-token sliding-window
  *     polynomial fingerprint in position order (the ExactSubstr
  *     primitive behind d25/d28);
  *   - `cdc_chunks(str)` — content-defined chunk (chunk_id, chunk_len,
  *     fp) structs (the x19 primitive; map-only chunking);
  *   - `hash_embed(str, dims)` — L2-normalized signed-hash document
  *     embedding as (dim, value) structs (the x17 primitive; map-only
  *     text→vector bridge);
  *   - `ngram_selfdup_stats(str, n)` — within-doc repeated-n-gram
  *     stats struct (n_tokens, n_dup_windows, dup_tokens) (the x35
  *     primitive; intra-document repetition removal).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("java_string_hashcode"),
      new ExpressionInfo(classOf[JavaStringHashCode].getName,
        "java_string_hashcode"),
      (children: Seq[Expression]) => JavaStringHashCode(children.head)))
    ext.injectFunction((
      FunctionIdentifier("hashed_shingles"),
      new ExpressionInfo(classOf[HashedShinglesExpr].getName,
        "hashed_shingles"),
      (children: Seq[Expression]) => children match {
        case Seq(text, Literal(n: Int, _)) => HashedShinglesExpr(text, n)
        case _ => throw new IllegalArgumentException(
          "usage: hashed_shingles(text, <int literal n>)")
      }))
    ext.injectFunction((
      FunctionIdentifier("simhash32"),
      new ExpressionInfo(classOf[SimHashExpr].getName, "simhash32"),
      (children: Seq[Expression]) => SimHashExpr(children.head)))
    ext.injectFunction((
      FunctionIdentifier("repetition_stats"),
      new ExpressionInfo(classOf[RepetitionStatsExpr].getName,
        "repetition_stats"),
      (children: Seq[Expression]) => RepetitionStatsExpr(children.head)))
    ext.injectFunction((
      FunctionIdentifier("minhash_bands"),
      new ExpressionInfo(classOf[MinHashBandsExpr].getName, "minhash_bands"),
      (children: Seq[Expression]) => children match {
        case Seq(text, Literal(n: Int, _), Literal(np: Int, _),
            Literal(bs: Int, _)) =>
          MinHashBandsExpr(text, n, np, bs, graft.queries.Dedup.P)
        case _ => throw new IllegalArgumentException(
          "usage: minhash_bands(text, <int n>, <int numPerm>, <int bandSize>)")
      }))
    ext.injectFunction((
      FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSigExpr].getName, "minhash_sig"),
      (children: Seq[Expression]) => MinHashSigExpr(children.head,
        graft.queries.Dedup.NumPerm, graft.queries.Dedup.P)))
    ext.injectFunction((
      FunctionIdentifier("char_trigram_scores"),
      new ExpressionInfo(classOf[CharTrigramScoresExpr].getName,
        "char_trigram_scores"),
      (children: Seq[Expression]) => CharTrigramScoresExpr(children.head)))
    ext.injectFunction((
      FunctionIdentifier("cosine_f32"),
      new ExpressionInfo(classOf[graft.functions.CosineSimExpr].getName,
        "cosine_f32"),
      (children: Seq[Expression]) => children match {
        case Seq(a, b) => graft.functions.CosineSimExpr(a, b)
        case _ => throw new IllegalArgumentException(
          "usage: cosine_f32(array<float>, array<float>)")
      }))
    ext.injectFunction((
      FunctionIdentifier("cdc_chunks"),
      new ExpressionInfo(classOf[graft.functions.CdcChunksExpr].getName,
        "cdc_chunks"),
      (children: Seq[Expression]) =>
        graft.functions.CdcChunksExpr(children.head)))
    ext.injectFunction((
      FunctionIdentifier("hash_embed"),
      new ExpressionInfo(classOf[graft.functions.HashEmbedExpr].getName,
        "hash_embed"),
      (children: Seq[Expression]) => children match {
        case Seq(text, Literal(d: Int, _)) =>
          graft.functions.HashEmbedExpr(text, d)
        case _ => throw new IllegalArgumentException(
          "usage: hash_embed(text, <int literal dims>)")
      }))
    ext.injectFunction((
      FunctionIdentifier("ngram_selfdup_stats"),
      new ExpressionInfo(classOf[graft.functions.NgramSelfDupExpr].getName,
        "ngram_selfdup_stats"),
      (children: Seq[Expression]) => children match {
        case Seq(text, Literal(n: Int, _)) =>
          graft.functions.NgramSelfDupExpr(text, n)
        case _ => throw new IllegalArgumentException(
          "usage: ngram_selfdup_stats(text, <int literal n>)")
      }))
    ext.injectFunction((
      FunctionIdentifier("poly_fp_windows"),
      new ExpressionInfo(classOf[graft.functions.PolyFpWindowsExpr].getName,
        "poly_fp_windows"),
      (children: Seq[Expression]) => children match {
        case Seq(text, Literal(w: Int, _)) =>
          graft.functions.PolyFpWindowsExpr(text, w)
        case _ => throw new IllegalArgumentException(
          "usage: poly_fp_windows(text, <int literal w>)")
      }))
  }
}
