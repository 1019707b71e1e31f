package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** MinHash LSH band keys of a text column, as ONE codegen'd fused loop:
  * tokenize → hashed n-gram shingles ([[HashedShinglesExpr]] pass, same
  * arithmetic) → `numPerm` universal-hash minima
  * ([[MinHashSigExpr.minima]], P = 2^31−1) → `numPerm/bandSize` band
  * strings `"bandIdx|m1,m2,.."`: two rows share a key iff their
  * signatures agree on that band, the `Dedup.lshBandPairs` blocking.
  * Empty-shingle docs (< n tokens) yield an empty array.
  *
  * Why an `Expression`: the composed Catalyst form (`transform` +
  * `array_min` per permutation + `concat_ws`/`array_join` band
  * assembly) evaluates `numPerm` interpreted higher-order passes over
  * the shingle array per document — it was the per-row bottleneck of
  * the STREAMING near-dup path (round-8 bench: the `neardup_*` probes
  * ran 4–8× slower than the other stateful ops in the same harness,
  * and the signature computation, not the keep-first state check,
  * dominated). One JVM loop computes all `numPerm` minima in a single
  * pass over the shingles. Bit-identical to the batch d3/d11 signatures
  * (the same [[MinHashSigExpr]] loop) — `StreamOpsSpec`/`FunctionsSpec`
  * assert the parity.
  */
case class MinHashBandsExpr(child: Expression, n: Int, numPerm: Int,
    bandSize: Int, p: Long) extends UnaryExpression {

  require(n >= 1 && numPerm >= 1 && bandSize >= 1 && numPerm % bandSize == 0,
    s"bad minhash geometry: n=$n numPerm=$numPerm bandSize=$bandSize")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "minhash_bands"

  override def nullSafeEval(input: Any): Any =
    MinHashBandsExpr.compute(input.asInstanceOf[UTF8String], n, numPerm,
      bandSize, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinHashBandsExpr$$.MODULE$$.compute($c, $n, " +
        s"$numPerm, $bandSize, ${p}L)")

  override protected def withNewChildInternal(newChild: Expression): MinHashBandsExpr =
    copy(child = newChild)
}

object MinHashBandsExpr {

  /** Called from generated code — keep the signature Java-friendly.
    * The signature is [[MinHashSigExpr.minima]] — the one copy of the
    * permutation arithmetic.
    */
  def compute(text: UTF8String, n: Int, numPerm: Int, bandSize: Int,
      p: Long): ArrayData = {
    val sh = HashedShinglesExpr.compute(text, n)
    if (sh.numElements() == 0) return new GenericArrayData(new Array[Any](0))
    val sig = MinHashSigExpr.minima(sh, numPerm, p)
    val nb = numPerm / bandSize
    val out = new Array[Any](nb)
    var b = 0
    while (b < nb) {
      val sb = new java.lang.StringBuilder(8 * bandSize)
      sb.append(b).append('|')
      var k = 0
      while (k < bandSize) {
        if (k > 0) sb.append(',')
        sb.append(sig(b * bandSize + k))
        k += 1
      }
      out(b) = UTF8String.fromString(sb.toString)
      b += 1
    }
    new GenericArrayData(out)
  }

  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** MinHash LSH band keys of a text column (codegen'd). */
  def minhashBands(text: Column, n: Int, numPerm: Int, bandSize: Int,
      p: Long): Column =
    ColumnBridge.column(
      MinHashBandsExpr(ColumnBridge.expression(text), n, numPerm, bandSize, p))
}

/** Rowwise MinHash signature of a shingle `array<long>`: element j is
  * min over the shingles x of pmod(x·(2j+1) + (12345j+1), p) — the
  * universal-hash permutation family of every MinHash path in the engine
  * (d3/d11's batch signatures, the LSH candidate pin's band keys, and
  * [[MinHashBandsExpr]]'s streaming band keys all run [[minima]]).
  *
  * Why an `Expression`: the composed form is an explode + per-doc
  * `min` aggregate — a shuffle keyed on doc_id of every shingle row — or
  * `numPerm` interpreted `transform`/`array_min` passes per row. The
  * callers hold the shingle array already (the pinned content groups),
  * so one loop per row replaces both. Null elements are skipped, as
  * `min` skips them; a null array, or one with no non-null element, has
  * no shingle and yields an empty signature (never null).
  */
case class MinHashSigExpr(child: Expression, numPerm: Int, p: Long)
    extends UnaryExpression {

  require(numPerm >= 1 && p > 0, s"bad minhash geometry: numPerm=$numPerm p=$p")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_sig"

  override def eval(input: InternalRow): Any =
    MinHashSigExpr.compute(child.eval(input).asInstanceOf[ArrayData],
      numPerm, p)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ArrayData ${ev.value} = graft.functions.MinHashSigExpr$$.MODULE$$
        .compute(${c.isNull} ? null : ${c.value}, $numPerm, ${p}L);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

object MinHashSigExpr {

  /** The permutation minima of the non-null elements of `xs` (all
    * Long.MaxValue when there are none). Shingle hashes are u32 and the
    * multipliers 2j+1 ≤ 2·numPerm, so x·a + c stays far below 2^63;
    * the sign fix-up makes `%` equal Spark's `pmod` for any input that
    * does not overflow.
    */
  def minima(xs: ArrayData, numPerm: Int, p: Long): Array[Long] = {
    val sig = new Array[Long](numPerm)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val m = xs.numElements()
    var i = 0
    while (i < m) {
      if (!xs.isNullAt(i)) {
        val x = xs.getLong(i)
        var j = 0
        while (j < numPerm) {
          var v = (x * (2L * j + 1) + (12345L * j + 1)) % p
          if (v < 0) v += p
          if (v < sig(j)) sig(j) = v
          j += 1
        }
      }
      i += 1
    }
    sig
  }

  /** Called from generated code — keep the signature Java-friendly. */
  def compute(xs: ArrayData, numPerm: Int, p: Long): ArrayData = {
    val m = if (xs == null) 0 else xs.numElements()
    var i = 0
    while (i < m && xs.isNullAt(i)) i += 1
    if (i == m) new GenericArrayData(Array.emptyLongArray)
    else new GenericArrayData(minima(xs, numPerm, p))
  }

  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** MinHash signature of a shingle-array column (codegen'd). */
  def minhashSig(shingles: Column, numPerm: Int, p: Long): Column =
    ColumnBridge.column(
      MinHashSigExpr(ColumnBridge.expression(shingles), numPerm, p))
}
