package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Most frequent word k-gram of a text column — `(gram, n)` in ONE fused
  * pass, for the Gopher top-gram concentration rule
  * (TextOps.text_top_ngram_frac).
  *
  * Why a custom expression (the NgramDupProfile pathology, measured a third
  * time): the compositional phrasing — transform/sequence/element_at to
  * build grams, explode, groupBy(doc, gram), per-doc rank — ran the lambda
  * INTERPRETED and shuffled every gram occurrence just to throw all but
  * one row per document away (3.7 s at sf0.1 vs 0.2 s fused, the slowest
  * key in the suite). Here: tokenize once (identical single-space
  * semantics to `split(text, ' ')`), build each gram string once, count in
  * one hash map, argmax with the (count desc, gram asc) tie rule — the
  * 2-row result leaves the expression and NOTHING shuffles. Unlike
  * NgramDupProfile the gram must come back as a STRING (it is part of the
  * output contract), so identity is the exact gram text, never a hash.
  *
  * Fewer than k tokens → (null, 0): the caller's fraction treats an absent
  * gram population as zero concentration, matching the SQL oracle's LEFT
  * JOIN + COALESCE.
  */
case class TopNgram(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, "k must be >= 1")

  override def dataType: DataType = StructType(Seq(
    StructField("gram", StringType, nullable = true),
    StructField("n", LongType, nullable = false)))
  override def prettyName: String = "top_ngram"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    TopNgram.compute(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.TopNgram.compute($v, $k);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TopNgram {

  private val Space = UTF8String.fromString(" ")

  /** (most frequent k-gram, its count) under single-space tokenization;
    * ties resolve to the binary-smallest gram (= DuckDB's ORDER BY gram on
    * the ASCII fixtures). One byte scan, one map pass, one argmax.
    */
  def compute(text: UTF8String, k: Int): InternalRow = {
    val toks = text.split(Space, -1)
    val m = toks.length - k + 1
    if (m <= 0) return new GenericInternalRow(Array[Any](null, 0L))
    val counts = new java.util.HashMap[UTF8String, Array[Long]](m * 2)
    var i = 0
    while (i < m) {
      val parts = new Array[UTF8String](k)
      var j = 0
      while (j < k) { parts(j) = toks(i + j); j += 1 }
      val gram = UTF8String.concatWs(Space, parts: _*)
      val c = counts.get(gram)
      if (c == null) counts.put(gram, Array(1L)) else c(0) += 1L
      i += 1
    }
    var bestGram: UTF8String = null
    var bestN = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val n = e.getValue()(0)
      if (n > bestN || (n == bestN &&
          (bestGram == null || e.getKey.compareTo(bestGram) < 0))) {
        bestGram = e.getKey
        bestN = n
      }
    }
    new GenericInternalRow(Array[Any](bestGram, bestN))
  }
}
