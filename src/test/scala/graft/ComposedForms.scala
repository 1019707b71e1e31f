package graft

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The composed Catalyst forms that the engine's fused kernels replaced,
  * kept as the references the differential specs compare against.
  */
object ComposedForms {

  /** doc_id, sig: array<long> of NumPerm minhash values from exploded
    * (doc_id, shingle: long) rows — the explode + per-doc `min`
    * aggregate that `MinHashSigExpr` replaced in d3, d11 and the LSH
    * candidate pin. Same constants as production (Dedup.NumPerm/P).
    */
  def minhashSigsOf(shingleRows: DataFrame): DataFrame = {
    import graft.queries.Dedup.{NumPerm, P}
    val perms = (0 until NumPerm).map { j =>
      min(pmod(col("shingle") * lit(2L * j + 1) + lit(12345L * j + 1), lit(P)))
        .as(s"m$j")
    }
    shingleRows
      .groupBy(col("doc_id"))
      .agg(perms.head, perms.tail: _*)
      .select(col("doc_id"),
        array((0 until NumPerm).map(j => col(s"m$j")): _*).as("sig"))
  }

  /** x3's quality score as one column over the raw text, the form that
    * re-split the text once per use (four splits per row) before the
    * signals read one token array (`TextAnalytics.withToks`).
    */
  def qualityCol(text: Column): Column = {
    val toks = TextFunctions.wsTokens(text)
    TextFunctions.stopwordRatio(toks) * lit(0.4) +
      least(size(toks).cast("double") / lit(80.0), lit(1.0)) * lit(0.3) +
      (lit(1.0) - TextFunctions.punctRatio(text)) * lit(0.3)
  }

  /** x5's per-language trigram scores as the interpreted lambdas that
    * `CharTrigramScoresExpr` replaced: the trigram array, filtered
    * against each profile.
    */
  def trigramScores(text: Column,
      profiles: Seq[(String, Seq[String])]): Seq[Column] = {
    // sequence(1,0) DESCENDS — guard texts shorter than 3 chars
    val trigrams = when(length(text) >= 3,
      transform(sequence(lit(1), length(text) - 2),
        i => text.substr(i, lit(3))))
      .otherwise(array().cast("array<string>"))
    profiles.map { case (_, grams) =>
      size(filter(trigrams,
        g => array_contains(array(grams.map(lit): _*), g)))
    }
  }
}
