package graft.queries

/** Reusable DuckDB SQL fragments that replay graft's portable hash /
  * tokenization functions exactly (see `graft.functions.HashFunctions`,
  * `graft.functions.TextFunctions`). Oracle-side only — never executed by
  * Spark.
  */
object OracleFragments {

  /** Unsigned 32-bit Java `String.hashCode` fold of a string expression:
    * h = (h*31 + char) mod 2^32.
    */
  def javaHashU32(expr: String): String =
    s"""list_reduce(list_prepend(0::BIGINT,
       | list_transform(string_split($expr, ''), c -> ord(c)::BIGINT)),
       | (a, c) -> (a * 31 + c) % 4294967296)""".stripMargin

  /** Signed 32-bit `java.lang.String.hashCode` (matches
    * `JavaStringHashCode` for ASCII/BMP input). Re-signing via
    * `((u + 2^31) mod 2^32) - 2^31` evaluates the fold once.
    */
  def javaHash(expr: String): String =
    s"(((${javaHashU32(expr)}) + 2147483648) % 4294967296 - 2147483648)"

  /** Knuth multiplicative hash of any integer expression — replays
    * `HashFunctions.knuthHash` for every key sign/magnitude. Spark's
    * `pmod` yields a non-negative residue while DuckDB's `%` is a signed
    * remainder, so the residue is re-centered pmod-style before the
    * multiply. The multiply runs in HUGEINT: (2^32-1)·K ≈ 1.1e19
    * overflows BIGINT, and DuckDB throws on int64 overflow rather than
    * promoting (the same regime the Spark side's split-multiply guards).
    */
  def knuthU32(expr: String): String =
    s"((((($expr) % 4294967296 + 4294967296) % 4294967296)::HUGEINT * 2654435761) % 4294967296)"

  /** Lowercase letter-run tokens, empties dropped — replays
    * `TextFunctions.tokenize`.
    */
  def tokenize(expr: String): String =
    s"list_filter(string_split_regex(lower($expr), '[^a-z]+'), w -> len(w) > 0)"

  /** Double-promoted, index-order dot product of two FLOAT[] expressions
    * — replays `VectorFunctions.dot` (left fold of promoted products).
    */
  def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0::DOUBLE,
       |  list_transform(list_zip($a, $b),
       |    p -> p[1]::DOUBLE * p[2]::DOUBLE)), (x, y) -> x + y)""".stripMargin

  /** Euclidean norm of a FLOAT[] expression — replays
    * `VectorFunctions.norm` (fold of squared promotions, sqrt last).
    */
  def normSql(a: String): String =
    s"""sqrt(list_reduce(list_prepend(0.0::DOUBLE,
       |  list_transform($a, v -> v::DOUBLE * v::DOUBLE)), (x, y) -> x + y))""".stripMargin

  /** Cosine similarity — replays `VectorFunctions.cosine`/`cosineJvm`
    * bit-for-bit: dot/(normA·normB), all folds in index order.
    */
  def cosineSql(a: String, b: String): String =
    s"(${dotSql(a, b)}) / ((${normSql(a)}) * (${normSql(b)}))"

  /** Whitespace tokens, empties dropped — replays `TextFunctions.wsTokens`.
    * The class is spelled out because Java's `\s` includes vertical tab
    * (\x0B) while RE2's `\s` does not — `\s+` here would silently
    * diverge from the Spark side on \x0B-bearing text.
    */
  def wsTokens(expr: String): String =
    s"list_filter(string_split_regex($expr, '[ \\t\\n\\x0B\\f\\r]+'), w -> len(w) > 0)"
}
