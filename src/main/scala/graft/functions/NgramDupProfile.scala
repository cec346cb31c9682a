package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Word k-gram repetition statistics of a text column — `(n, n_distinct)`
  * gram counts for EVERY k = 1..maxK in one fused pass, for the
  * Gopher-family duplicate-fraction quality signals
  * (TextOps.text_repetition). Returns `array<struct<n, n_distinct>>`
  * indexed k-1.
  *
  * Why a custom expression (the ShingleHashes lesson, measured again here):
  * the built-in phrasing `transform(sequence(1, size(toks)-k+1), i ->
  * concat_ws(' ', element_at(toks, i), ...))` runs its lambda INTERPRETED,
  * and every `element_at(toks, ...)` re-evaluates the captured
  * `split(text, ' ')` — k re-splits of the whole document per emitted gram,
  * O(k·tokens²) per document: 33 s for one sf0.1 pass vs ~1 s fused. Here:
  * tokenize once (same single-space semantics as `split(text, ' ')`), XXH64
  * each token once, then per k combine k consecutive token hashes per gram
  * (boost-style hash_combine via [[ShingleHashes]]), sort, count distinct
  * in place. Tokenizing once for all k matters too: one pass per k
  * re-split and re-hashed the document each time, the dominant cost at
  * 500k-document scale (measured at the sf10 ramp). Only the two counts
  * leave the expression, so gram identity by 64-bit hash changes nothing
  * observable (within-document collision odds ~m²/2^65).
  *
  * Fewer than k tokens → (0, 0): the caller's duplicate fraction treats an
  * absent gram population as "no repetition", matching the SQL oracle's
  * `CASE WHEN len(grams) > 0` guard.
  */
case class NgramDupProfile(child: Expression, maxK: Int) extends UnaryExpression {
  require(maxK >= 1, "maxK must be >= 1")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false))), containsNull = false)
  override def prettyName: String = "ngram_dup_profile"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    NgramDupProfile.computeProfile(input.asInstanceOf[UTF8String], maxK)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.NgramDupProfile.computeProfile($v, $maxK);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NgramDupProfile {

  /** One (n, n_distinct) row per k = 1..maxK, sharing ONE tokenize+hash pass. */
  def computeProfile(text: UTF8String,
      maxK: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val toks = text.split(UTF8String.fromString(" "), -1)
    val n = toks.length
    val th = new Array[Long](n)
    var i = 0
    while (i < n) { th(i) = ShingleHashes.tokenHash(toks(i)); i += 1 }
    val out = new Array[Any](maxK)
    var k = 1
    while (k <= maxK) {
      val m = n - k + 1
      if (m <= 0) out(k - 1) = new GenericInternalRow(Array[Any](0L, 0L))
      else {
        val gh = new Array[Long](m)
        i = 0
        while (i < m) {
          var h = th(i)
          var j = 1
          while (j < k) { h = ShingleHashes.combine(h, th(i + j)); j += 1 }
          gh(i) = h
          i += 1
        }
        java.util.Arrays.sort(gh)
        var distinct = 1
        i = 1
        while (i < m) {
          if (gh(i) != gh(i - 1)) distinct += 1
          i += 1
        }
        out(k - 1) = new GenericInternalRow(Array[Any](m.toLong, distinct.toLong))
      }
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}
