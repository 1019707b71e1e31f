package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Reusable text column functions (all native Catalyst expressions —
  * codegen'd, no UDFs in the hot path).
  *
  * Tokenization semantics follow the reference's word extractor
  * (`MinimalWordCount.scala:36-45`: split on non-letters, drop empties),
  * restricted to ASCII letters after lowercasing so the DuckDB oracle
  * regex behaves identically.
  */
object TextFunctions {

  /** line -> array of lowercase words, empties removed. */
  def tokenize(text: Column): Column =
    filter(split(lower(text), "[^a-z]+"), w => length(w) > 0)

  /** Case-preserving tokenizer with the reference's exact split —
    * `"[^\\p{L}]+"` on any-letter (`MinimalWordCount.scala:41`); the
    * golden DebuggingWordCount fixture is case-sensitive ("Flourish").
    */
  def tokenizeCased(text: Column): Column =
    filter(split(text, "[^\\p{L}]+"), w => length(w) > 0)

  /** Whitespace token array (for token counting / shingling). */
  def wsTokens(text: Column): Column =
    filter(split(text, "\\s+"), w => length(w) > 0)

  /** Word-level n-gram shingles as joined strings ("w1 w2 w3").
    * Guarded: `sequence(1, 0)` in Spark DESCENDS, so short docs must
    * short-circuit to an empty array explicitly.
    */
  def shingles(tokens: Column, n: Int): Column =
    when(size(tokens) >= n, {
      val idx = sequence(lit(1), size(tokens) - lit(n - 1))
      transform(idx, i => array_join(slice(tokens, i, lit(n)), " "))
    }).otherwise(array().cast("array<string>"))

  /** BPE-ish token count: words + standalone punctuation, the usual
    * cheap proxy for tokenizer cost in data-pipeline filtering.
    */
  def regexTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"))

  /** The English stopword list of every stopword signal (x3 quality,
    * the Gopher rule gate). */
  val StopWords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "as", "with", "at", "by", "from")

  def stopWordsArray: Column = array(StopWords.map(lit): _*)

  /** Fraction of tokens that are English stopwords — the standard cheap
    * language-ID / quality signal over a corpus at scale (one pass, no
    * shuffle; stays in WholeStageCodegen).
    */
  def stopwordRatio(tokens: Column): Column = {
    val hits = size(filter(tokens, w => array_contains(stopWordsArray, w)))
    when(size(tokens) > 0, hits.cast("double") / size(tokens).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Punctuation character ratio of the raw text. */
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      (length(text) - length(regexp_replace(text, "[^A-Za-z0-9\\s]", "")))
        .cast("double") / length(text).cast("double"))
      .otherwise(lit(0.0))
}
