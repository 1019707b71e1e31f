package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Character-trigram language-profile scores as ONE codegen'd pass per
  * row: for each profile of [[CharTrigramScoresExpr.Profiles]]
  * (language → grams), the number of positions
  * i ∈ [1, len−2] whose trigram `substr(text, i, 3)` is one of the
  * profile's grams — the n-gram language-ID heuristic behind x5.
  *
  * Why an `Expression`: the composed Catalyst form
  * (`size(filter(transform(sequence(1, len−2), substr), array_contains))`
  * per language, and again inside the argmax CASE) rebuilt the trigram
  * array nine times per row in interpreted lambdas — x5's whole cost.
  * This walks the text's characters once and compares each trigram's
  * bytes in place; no trigram string is ever allocated.
  *
  * Semantics are Spark's exactly: characters are counted the way
  * `length`/`substr` count them (`UTF8String.numBytesForFirstByte`, so
  * even malformed UTF-8 splits identically), and a trigram equals a gram
  * iff their UTF-8 bytes are equal. Null text and texts shorter than
  * three characters score 0 everywhere, as the empty trigram array did.
  * The result is a struct with one int field per profile, in profile
  * order, never null. The fields are declared nullable, as the composed
  * form's `size(...)` was, so x5's output schema is unchanged.
  */
case class CharTrigramScoresExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = CharTrigramScoresExpr.schema
  override def nullable: Boolean = false
  override def prettyName: String = "char_trigram_scores"

  override def eval(input: InternalRow): Any =
    CharTrigramScoresExpr.compute(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      InternalRow ${ev.value} = graft.functions.CharTrigramScoresExpr$$.MODULE$$
        .compute(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): CharTrigramScoresExpr =
    copy(child = newChild)
}

object CharTrigramScoresExpr {

  /** x5's profiles: five frequent trigrams per language, each gram
    * three characters.
    */
  val Profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "ing", "and", " th", "er "),
    "de" -> Seq("der", "ein", "sch", "und", "ich"),
    "fr" -> Seq("les", "ent", "que", "ion", "eau"))

  val schema: StructType = StructType(Profiles.map { case (lang, _) =>
    StructField(lang, IntegerType, nullable = true) })

  /** grams(l) holds profile l's grams as UTF-8 bytes. */
  private val grams: Array[Array[Array[Byte]]] =
    Profiles.map(_._2.map(UTF8String.fromString(_).getBytes).toArray).toArray

  /** Called from generated code — keep the signature Java-friendly. */
  def compute(text: UTF8String): InternalRow = {
    val scores = new Array[Any](grams.length)
    val counts = new Array[Int](grams.length)
    if (text != null) {
      val n = text.numBytes()
      // byte offsets of the current trigram's three character starts;
      // a trigram ends where the next character starts (or at the end)
      var s0 = 0
      var s1 = if (n > 0) step(text, 0, n) else n
      var s2 = if (s1 < n) step(text, s1, n) else n
      var e = if (s2 < n) step(text, s2, n) else n
      // substr(i, 3) exists for i ≤ len − 2: while a third char started
      while (s2 < n) {
        val len = e - s0
        var l = 0
        while (l < grams.length) {
          val gs = grams(l)
          var k = 0
          while (k < gs.length) {
            if (matches(text, s0, len, gs(k))) counts(l) += 1
            k += 1
          }
          l += 1
        }
        s0 = s1; s1 = s2; s2 = e
        if (e < n) e = step(text, e, n)
      }
    }
    var l = 0
    while (l < counts.length) { scores(l) = counts(l); l += 1 }
    new GenericInternalRow(scores)
  }

  /** Start of the character after the one starting at `i` (capped at n,
    * as `substr` caps a truncated final character).
    */
  private def step(text: UTF8String, i: Int, n: Int): Int =
    math.min(i + UTF8String.numBytesForFirstByte(text.getByte(i)), n)

  private def matches(text: UTF8String, from: Int, len: Int,
      gram: Array[Byte]): Boolean =
    len == gram.length && {
      var j = 0
      while (j < len && text.getByte(from + j) == gram(j)) j += 1
      j == len
    }

  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Per-profile trigram scores of a text column (codegen'd). */
  def charTrigramScores(text: Column): Column =
    ColumnBridge.column(CharTrigramScoresExpr(ColumnBridge.expression(text)))
}
