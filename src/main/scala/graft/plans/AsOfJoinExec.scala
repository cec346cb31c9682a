package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** The physical as-of join: a dedicated merge operator (SURVEY.md §7.3;
  * the (c)-tier of the custom-operator ladder: LogicalPlan + Rule +
  * SparkStrategy + SparkPlan), and the only plan for an [[AsOfJoin]] node.
  *
  * It co-partitions the two sides on the key (one exchange EACH, each over
  * its own narrow schema), sorts each side by (key, ts[, tie]), and streams
  * a single forward merge per partition with O(1) state — the classic
  * kdb/pandas merge_asof plan. No union of the two sides, no null-padded
  * wide sort, no window buffer. `PropertySpec` pins every
  * direction/tolerance combination against brute force, NULL ts and
  * (key, ts) ties included; `AsOfJoinPlanSpec` pins it against the
  * hand-built window compositions.
  *
  * Merge state per partition, all directions: the last in-bound build row
  * (backward carry, ≤ probe ts — last-in-sort-order = max tie at equal
  * ts) and/or one peeked not-yet-in-bound build row (forward candidate,
  * first-in-sort-order = min tie at equal ts). Probe rows stream in
  * (key, ts) order, so both cursors only ever move forward — each build
  * row is examined once per partition.
  */
case class AsOfJoinExec(
    keyCol: String,
    leftTsCol: String,
    rightTsCol: String,
    direction: String,
    toleranceMicros: Option[Long],
    carriedOut: Seq[Attribute],
    left: SparkPlan,
    right: SparkPlan,
    rightTieCol: String)
  extends BinaryExecNode {

  private def attr(side: SparkPlan, n: String): Attribute =
    side.output.find(_.name == n).get
  private def lKey = attr(left, keyCol)
  private def rKey = attr(right, keyCol)
  private def lTs = attr(left, leftTsCol)
  private def rTs = attr(right, rightTsCol)
  private def rTie = attr(right, rightTieCol)

  override def output: Seq[Attribute] =
    left.output.map(_.withNullability(true)) ++ carriedOut

  // same declarations as the logical node: the carried payload attrs are
  // minted here, and child columns are addressed by name
  override def producedAttributes: AttributeSet = AttributeSet(carriedOut)
  override def references: AttributeSet = AttributeSet(children.flatMap(_.output))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(lKey)) :: ClusteredDistribution(Seq(rKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(lKey, Ascending), SortOrder(lTs, Ascending)),
    Seq(SortOrder(rKey, Ascending), SortOrder(rTs, Ascending),
      SortOrder(rTie, Ascending)))

  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyIdx = left.output.indexWhere(_.name == keyCol)
    val rKeyIdx = right.output.indexWhere(_.name == keyCol)
    val lTsIdx = left.output.indexWhere(_.name == leftTsCol)
    val rTsIdx = right.output.indexWhere(_.name == rightTsCol)
    val keyType = left.output(lKeyIdx).dataType
    val payloadAttrs = right.output.filterNot(_.name == keyCol)
    val rightOut = right.output
    val leftOut = left.output
    val outAttrs = output
    val dir = direction
    val tol = toleranceMicros

    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val keyOrd = TypeUtils.getInterpretedOrdering(keyType)
      def cmpKeys(a: Any, b: Any): Int =
        if (a == null && b == null) 0
        else if (a == null) -1
        else if (b == null) 1
        else keyOrd.compare(a, b)

      val payloadProj = UnsafeProjection.create(payloadAttrs, rightOut)
      val resultProj = UnsafeProjection.create(outAttrs, leftOut ++ carriedOut)
      val nullPayload = new GenericInternalRow(payloadAttrs.size)
      val joined = new JoinedRow

      new Iterator[InternalRow] {
        // backward carry: last build row with key == probe key, ts <= probe ts
        private var carry: InternalRow = _
        private var carryKey: Any = _
        private var carryTs = 0L
        private var carryTsNull = false
        // forward candidate: first not-yet-consumed build row
        private var peek: InternalRow = _

        private def peekNext(): Boolean = {
          if (peek == null && rIt.hasNext) peek = rIt.next().copy()
          peek != null
        }

        /** Move the build cursor for probe (pk, pts, ptsNull): rows of
          * earlier keys are dropped; in-bound rows of pk become the carry
          * (backward/nearest: ts <= pts inclusive, in an order where a
          * NULL ts sorts before every non-null ts and a NULL build ts sits
          * AT a NULL probe ts) or are dropped (forward: only ts strictly
          * before the probe in that order — a row AT the probe ts is the
          * inclusive forward match and must stay peeked).
          */
        private def advance(pk: Any, pts: Long, ptsNull: Boolean): Unit = {
          var go = true
          while (go && peekNext()) {
            val bk = peek.get(rKeyIdx, keyType)
            val c = cmpKeys(bk, pk)
            if (c < 0) peek = null
            else if (c > 0) go = false
            else {
              val btsNull = peek.isNullAt(rTsIdx)
              // "before the probe" in nulls-first order:
              //   null build ts  -> before any non-null probe ts;
              //                     AT a null probe ts (kinds break the tie)
              //   non-null build -> after a null probe ts
              val strictlyBefore = !ptsNull && (btsNull || {
                val bts = peek.getLong(rTsIdx)
                if (dir == AsOfJoin.Forward) bts < pts else bts <= pts
              })
              val atNullProbe = ptsNull && btsNull
              if (strictlyBefore || (atNullProbe && dir != AsOfJoin.Forward)) {
                if (dir != AsOfJoin.Forward) {
                  carry = peek; carryKey = bk
                  carryTsNull = btsNull
                  carryTs = if (btsNull) 0L else peek.getLong(rTsIdx)
                }
                peek = null
              } else go = false
            }
          }
        }

        override def hasNext: Boolean = lIt.hasNext

        override def next(): InternalRow = {
          val probe = lIt.next()
          val pk = probe.get(lKeyIdx, keyType)
          val ptsNull = probe.isNullAt(lTsIdx)
          val pts = if (ptsNull) 0L else probe.getLong(lTsIdx)
          advance(pk, pts, ptsNull)

          // a distance involving a NULL ts is NULL, which never satisfies a
          // tolerance -> no match; without tolerance a null-ts carry/peek
          // matches with its null ts carried through
          val backOk = dir != AsOfJoin.Forward &&
            carry != null && cmpKeys(carryKey, pk) == 0 &&
            tol.forall(t => !carryTsNull && !ptsNull && pts - carryTs <= t)
          val peekKeyOk = peek != null && cmpKeys(peek.get(rKeyIdx, keyType), pk) == 0
          val peekTsNull = peekKeyOk && peek.isNullAt(rTsIdx)
          val fwdOk = dir != AsOfJoin.Backward && peekKeyOk &&
            tol.forall(t => !peekTsNull && !ptsNull &&
              peek.getLong(rTsIdx) - pts <= t)

          val chosen: InternalRow =
            if (dir == AsOfJoin.Backward) { if (backOk) carry else null }
            else if (dir == AsOfJoin.Forward) { if (fwdOk) peek else null }
            else { // nearest: min distance, exact tie resolves backward;
              // a NULL distance on either side picks the forward match
              if (backOk && fwdOk) {
                if (carryTsNull || ptsNull || peekTsNull) peek // NULL distance -> fwd
                else if (pts - carryTs <= peek.getLong(rTsIdx) - pts) carry
                else peek
              } else if (backOk) carry
              else if (fwdOk) peek
              else null
            }
          val payload =
            if (chosen == null) nullPayload else payloadProj(chosen)
          resultProj(joined(probe, payload))
        }
      }
    }
  }
}

/** Planner strategy for the physical as-of join: plans every
  * [[AsOfJoin]] node as [[AsOfJoinExec]].
  */
case class AsOfJoinStrategy(spark: SparkSession) extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: AsOfJoin =>
      AsOfJoinExec(n.keyCol, n.leftTsCol, n.rightTsCol, n.direction,
        n.toleranceMicros, n.carriedOut,
        planLater(n.left), planLater(n.right), n.rightTieCol) :: Nil
    case _ => Nil
  }
}
