package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import scala.collection.mutable

/** Theta / KMV distinct sketch (Dasgupta, Lang, Rhodes, Thaler —
  * "A Framework for Estimating Stream Expression Cardinalities" and the
  * Apache DataSketches theta-sketch literature; ClickHouse's
  * `uniqTheta` / `groupBitmapAnd` use case).
  *
  * This is the one mergeable algebra the HLL family cannot provide: HLL
  * partials union but cannot INTERSECT, so "audience A ∩ audience B over
  * day-partitioned 100 TB" either re-scans raw data or needs this sketch.
  *
  * State: `theta` (a threshold in the hash domain [0, 2^63)) plus the set
  * of item hashes below `theta`, at most `k` of them. While fewer than
  * `k` distinct hashes have been seen, `theta` stays at the domain max
  * and the sketch is EXACT. On overflow the largest retained hash becomes
  * the new `theta` — the set is then a uniform sample of the distinct
  * items at rate `theta / 2^63`, so
  * `estimate = |S| * 2^63 / theta` (relative standard error ≈ 1/√k).
  *
  * The set algebra operates on serialized sketches (BinaryType), so day
  * partials persist in a parquet MV exactly like the HLL rollup
  * (`agg_hll_merge`) and ANY day range / audience combination is answered
  * from sketch bytes:
  *  - union: theta = min(thetas), keep hashes < theta, trim to k
  *    ([[ThetaUnionAgg]] aggregates partials; [[ThetaUnion]] pairs)
  *  - intersect ([[ThetaIntersect]]): theta = min(thetas), keep common
  *    hashes < theta — no trim can be needed
  *  - estimate ([[ThetaEstimate]]): |S| / (theta / 2^63)
  *
  * Determinism: the hash is seeded XXH64, the retained set is sorted, so
  * equal inputs give byte-equal sketches on any cluster layout — merge
  * order never changes the state (pinned in ThetaSketchSpec).
  */
object ThetaOps {
  /** Hash-domain max: hashes are masked into [0, 2^63). */
  val MaxTheta: Long = Long.MaxValue

  /** Mutable sketch state; `hashes` is kept sorted (TreeSet) with all
    * elements strictly below `theta`, size ≤ k.
    */
  final class Buf(var theta: Long, val hashes: mutable.TreeSet[Long]) {
    def insert(h: Long, k: Int): Unit =
      if (h < theta && hashes.add(h) && hashes.size > k) {
        theta = hashes.max
        hashes.remove(theta)
      }

    def mergeIn(otherTheta: Long, otherHashes: Iterable[Long], k: Int): Unit = {
      if (otherTheta < theta) {
        theta = otherTheta
        hashes.filterInPlace(_ < theta)
      }
      otherHashes.foreach(insert(_, k))
    }
  }

  def empty(): Buf = new Buf(MaxTheta, mutable.TreeSet.empty[Long])

  def serialize(b: Buf): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(8 + 4 + 8 * b.hashes.size)
    out.putLong(b.theta).putInt(b.hashes.size)
    b.hashes.foreach(h => out.putLong(h))
    out.array()
  }

  def deserialize(bytes: Array[Byte]): Buf = {
    val in = java.nio.ByteBuffer.wrap(bytes)
    val theta = in.getLong
    val n = in.getInt
    val s = mutable.TreeSet.empty[Long]
    var i = 0
    while (i < n) { s.add(in.getLong); i += 1 }
    new Buf(theta, s)
  }

  def estimate(b: Buf): Double =
    if (b.theta >= MaxTheta) b.hashes.size.toDouble
    else if (b.theta <= 0L) 0.0
    else b.hashes.size * (MaxTheta.toDouble / b.theta.toDouble)
}

/** Builds a theta sketch (BinaryType) of a column's distinct values —
  * the ClickHouse `uniqThetaState` analog; see [[ThetaOps]].
  */
case class ThetaSketchAgg(
    child: Expression,
    k: Int = 4096,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ThetaOps.Buf] with UnaryLike[Expression] {

  require(k >= 16, "need k >= 16")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "theta_sketch"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: ArrayType | _: MapType | _: StructType =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an atomic type, got ${child.dataType.simpleString}")
    case _ => TypeCheckResult.TypeCheckSuccess
  }

  override def createAggregationBuffer(): ThetaOps.Buf = ThetaOps.empty()

  override def update(buf: ThetaOps.Buf, input: InternalRow): ThetaOps.Buf = {
    val v = child.eval(input)
    if (v != null) {
      val h = XxHash64Function.hash(v, child.dataType, 0x5eed5eedL) & Long.MaxValue
      buf.insert(h, k)
    }
    buf
  }

  override def merge(buf: ThetaOps.Buf, other: ThetaOps.Buf): ThetaOps.Buf = {
    buf.mergeIn(other.theta, other.hashes, k)
    buf
  }

  override def eval(buf: ThetaOps.Buf): Any = ThetaOps.serialize(buf)
  override def serialize(buf: ThetaOps.Buf): Array[Byte] = ThetaOps.serialize(buf)
  override def deserialize(bytes: Array[Byte]): ThetaOps.Buf =
    ThetaOps.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): ThetaSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ThetaSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): ThetaSketchAgg =
    copy(child = newChild)
}

/** Unions serialized theta sketches — the `uniqThetaMerge` /
  * `hll_union_agg` analog for the MV-rollup path: day partials in,
  * combined sketch out.
  */
case class ThetaUnionAgg(
    child: Expression,
    k: Int = 4096,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ThetaOps.Buf] with UnaryLike[Expression] {

  require(k >= 16, "need k >= 16")

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "theta_union_agg"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a binary sketch column, got ${other.simpleString}")
  }

  override def createAggregationBuffer(): ThetaOps.Buf = ThetaOps.empty()

  override def update(buf: ThetaOps.Buf, input: InternalRow): ThetaOps.Buf = {
    val v = child.eval(input)
    if (v != null) {
      val other = ThetaOps.deserialize(v.asInstanceOf[Array[Byte]])
      buf.mergeIn(other.theta, other.hashes, k)
    }
    buf
  }

  override def merge(buf: ThetaOps.Buf, other: ThetaOps.Buf): ThetaOps.Buf = {
    buf.mergeIn(other.theta, other.hashes, k)
    buf
  }

  override def eval(buf: ThetaOps.Buf): Any = ThetaOps.serialize(buf)
  override def serialize(buf: ThetaOps.Buf): Array[Byte] = ThetaOps.serialize(buf)
  override def deserialize(bytes: Array[Byte]): ThetaOps.Buf =
    ThetaOps.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): ThetaUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ThetaUnionAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): ThetaUnionAgg =
    copy(child = newChild)
}

/** Intersects two serialized theta sketches → a sketch of the set
  * intersection (the algebra HLL lacks). Scalar sketch-to-sketch post-
  * processing over per-group rows — off the scan hot path, so eval-only
  * (CodegenFallback) is the right cost/complexity point.
  */
case class ThetaIntersect(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "theta_intersect"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (binary, binary), got (${l.simpleString}, ${r.simpleString})")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = ThetaOps.deserialize(a.asInstanceOf[Array[Byte]])
    val y = ThetaOps.deserialize(b.asInstanceOf[Array[Byte]])
    val theta = math.min(x.theta, y.theta)
    val s = mutable.TreeSet.empty[Long]
    x.hashes.foreach(h => if (h < theta && y.hashes.contains(h)) s.add(h))
    ThetaOps.serialize(new ThetaOps.Buf(theta, s))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ThetaIntersect =
    copy(left = newLeft, right = newRight)
}

/** Unions two serialized theta sketches pairwise (the scalar form of
  * [[ThetaUnionAgg]], for inclusion-exclusion style algebra in a SELECT).
  * The result keeps every hash below min(theta) — capacity is the sum of
  * the operands' retained sets, which is the exact pairwise union; a
  * downstream [[ThetaUnionAgg]] re-trims to its own k.
  */
case class ThetaUnion(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "theta_union"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (binary, binary), got (${l.simpleString}, ${r.simpleString})")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = ThetaOps.deserialize(a.asInstanceOf[Array[Byte]])
    val y = ThetaOps.deserialize(b.asInstanceOf[Array[Byte]])
    x.mergeIn(y.theta, y.hashes, Int.MaxValue)
    ThetaOps.serialize(x)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ThetaUnion =
    copy(left = newLeft, right = newRight)
}

/** Distinct-count estimate of a serialized theta sketch: |S| / sampling
  * rate; exact while the sketch never overflowed (theta still at domain
  * max).
  */
case class ThetaEstimate(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "theta_estimate"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires binary, got ${other.simpleString}")
  }

  override def nullSafeEval(a: Any): Any =
    ThetaOps.estimate(ThetaOps.deserialize(a.asInstanceOf[Array[Byte]]))

  override protected def withNewChildInternal(newChild: Expression): ThetaEstimate =
    copy(child = newChild)
}
