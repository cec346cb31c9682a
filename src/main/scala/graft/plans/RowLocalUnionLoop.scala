package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkException
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeMap, AttributeSet, BindReferences, Expression, Predicate, SubqueryExpression, UnsafeProjection, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, UnionLoop, UnionLoopRef}
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DataType

/** Planner strategy for row-local recursive CTEs. Spark's own
  * `UnionLoopExec` runs every iteration of a `WITH RECURSIVE` loop as its
  * own `repartition()` + `count()` job, so an n-level walk costs n+1 jobs
  * before the first output row. When the recursive term is only
  * `Project`/`Filter` over the loop's own (non-accumulated) `UnionLoopRef`,
  * deterministic, free of subqueries and not under a `LIMIT`, every row of
  * iteration k is the step of exactly one row of iteration k−1. Such a loop
  * plans as [[RowLocalUnionLoopExec]], which follows each anchor row's chain
  * inside its task. Every other loop (a join or aggregate in the step,
  * `LIMIT`, `rand()`) returns Nil here and plans as `UnionLoopExec`.
  */
case class RowLocalUnionLoop(spark: SparkSession) extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case u: UnionLoop if u.limit.isEmpty =>
      RowLocalUnionLoop.step(u.recursion, u.id).filter { case (ref, conds, exprs) =>
        // every row the step reads has the ref's layout: the anchor's rows
        // and the step's own
        def layout(es: Seq[Expression]) = es.length == ref.output.length &&
          es.zip(ref.output).forall { case (e, a) =>
            DataType.equalsStructurally(e.dataType, a.dataType, ignoreNullability = true)
          }
        layout(u.anchor.output) && layout(exprs) &&
          (conds ++ exprs).forall(e => e.deterministic && !SubqueryExpression.hasSubquery(e) &&
            !BindReferences.bindReference(e, ref.output, allowFailures = true)
              .exists(_.isInstanceOf[Unevaluable]))
      }.map { case (ref, conds, exprs) =>
        RowLocalUnionLoopExec(u.output, ref.output, conds, exprs, u.maxDepth,
          planLater(u.anchor))
      }.toList
    case _ => Nil
  }
}

object RowLocalUnionLoop {
  /** The recursive term as one step over the ref's row: the conditions a
    * row must pass (in plan order, bottom-up) and the expressions of the
    * next row, all over `ref.output`. None unless the term is a chain of
    * `Project`/`Filter` over the loop's own non-accumulated ref.
    */
  def step(p: LogicalPlan, loopId: Long)
      : Option[(UnionLoopRef, Seq[Expression], Seq[Expression])] = p match {
    case r: UnionLoopRef if r.loopId == loopId && !r.accumulated =>
      Some((r, Nil, r.output))
    case Filter(cond, child) => step(child, loopId).map { case (r, conds, exprs) =>
      (r, conds :+ inline(cond, child.output, exprs), exprs)
    }
    case Project(list, child) => step(child, loopId).map { case (r, conds, exprs) =>
      (r, conds, list.map(e => inline(e, child.output, exprs) match {
        case a: Alias => a.child
        case x => x
      }))
    }
    case _ => None
  }

  /** `e` over `attrs`, with each attribute replaced by its expression in
    * `exprs` (positionally). */
  private def inline(e: Expression, attrs: Seq[Attribute], exprs: Seq[Expression]): Expression = {
    val byAttr = AttributeMap(attrs.zip(exprs))
    e.transform { case a: Attribute if byAttr.contains(a) => byAttr(a) }
  }
}

/** The fused recursive CTE: one operator over the anchor's plan that, in
  * each task, emits every anchor row followed by its chain — step while
  * every condition holds, emit the projected row, repeat. The depth-k rows
  * of these chains are exactly iteration k of Spark's loop, so the output
  * multiset is the same.
  *
  * Spark's guard rails are checked before any row is emitted: one job over
  * the same anchor RDD counts rows per depth, and [[RowLocalUnionLoopExec.replay]]
  * raises `RECURSION_LEVEL_LIMIT_EXCEEDED` / `RECURSION_ROW_LIMIT_EXCEEDED`
  * under the conditions and in the order `UnionLoopExec` does. That
  * counting job stops each chain at the level limit; only when there is
  * none (−1) does it stop each task at the row limit instead, so a runaway
  * chain still ends. The metrics carry `UnionLoopExec`'s names and values.
  */
case class RowLocalUnionLoopExec(
    output: Seq[Attribute],
    ref: Seq[Attribute],
    conds: Seq[Expression],
    exprs: Seq[Expression],
    maxDepth: Option[Int],
    child: SparkPlan)
  extends UnaryExecNode {

  // the step reads the ref's attributes, which no child produces: it is
  // bound to each row by position, as Spark's loop feeds iteration k back
  override def references: AttributeSet = child.outputSet

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numIterations" -> SQLMetrics.createMetric(sparkContext, "number of recursive iterations"),
    "numAnchorOutputRows" ->
      SQLMetrics.createMetric(sparkContext, "number of anchor output rows"))

  override protected def withNewChildInternal(newChild: SparkPlan): RowLocalUnionLoopExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val levelLimit = maxDepth.getOrElse(conf.getConf(SQLConf.CTE_RECURSION_LEVEL_LIMIT))
    val rowLimit = conf.getConf(SQLConf.CTE_RECURSION_ROW_LIMIT)
    val (r, cs, es) = (ref, conds, exprs)
    val maxChainDepth = if (levelLimit == -1) Int.MaxValue else levelLimit
    val taskCap = if (levelLimit == -1 && rowLimit != -1) rowLimit.toLong else Long.MaxValue

    val anchor = child.execute()
    val perDepth = anchor.mapPartitions { rows =>
      val it = new RowLocalUnionLoopExec.Chains(rows, r, cs, es, maxChainDepth)
      val counts = ArrayBuffer.empty[Long]
      var n = 0L
      while (n < taskCap && it.hasNext) {
        it.next()
        if (it.depth == counts.length) counts += 0L
        counts(it.depth) += 1
        n += 1
      }
      Iterator(counts.toArray)
    }.collect().foldLeft(Array.empty[Long]) { (a, b) =>
      Array.tabulate(a.length max b.length)(i => a.lift(i).getOrElse(0L) + b.lift(i).getOrElse(0L))
    }
    RowLocalUnionLoopExec.replay(perDepth, levelLimit, rowLimit)

    longMetric("numAnchorOutputRows") += perDepth.headOption.getOrElse(0L)
    longMetric("numIterations") += perDepth.length
    longMetric("numOutputRows") += perDepth.sum
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), metrics.values.toSeq)

    anchor.mapPartitions(rows => new RowLocalUnionLoopExec.Chains(rows, r, cs, es, maxChainDepth))
  }
}

object RowLocalUnionLoopExec {
  /** Replays Spark's loop over a rows-per-depth histogram: iteration k
    * (depth k−1 rows) fails when k exceeds the level limit, then when the
    * running row total reaches the row limit; −1 turns a limit off. The
    * histogram has no empty depth before its last, as the loop stops at
    * its first empty iteration.
    */
  def replay(perDepth: Array[Long], levelLimit: Int, rowLimit: Int): Unit = {
    var total = 0L
    for (depth <- perDepth.indices) {
      if (levelLimit != -1 && depth + 1 > levelLimit)
        throw new SparkException("RECURSION_LEVEL_LIMIT_EXCEEDED",
          Map("levelLimit" -> levelLimit.toString), null)
      total += perDepth(depth)
      if (rowLimit != -1 && total >= rowLimit)
        throw new SparkException("RECURSION_ROW_LIMIT_EXCEEDED",
          Map("rowLimit" -> rowLimit.toString), null)
    }
  }

  /** Each anchor row, then its chain, depth-first: step while every
    * condition holds, up to depth `maxDepth`. `depth` is the depth of the
    * row `next()` last returned.
    */
  final class Chains(anchor: Iterator[InternalRow], ref: Seq[Attribute],
      conds: Seq[Expression], exprs: Seq[Expression], maxDepth: Int)
    extends Iterator[InternalRow] {
    private val preds = conds.map(Predicate.create(_, ref))
    // two projections used in turn, so a step never writes the buffer it reads
    private val projs = Array.fill(2)(UnsafeProjection.create(exprs, ref))
    var depth = -1
    private var last: InternalRow = _
    private var pending: InternalRow = _

    override def hasNext: Boolean = {
      if (pending == null && last != null) {
        if (depth < maxDepth && preds.forall(_.eval(last))) pending = projs((depth + 1) & 1)(last)
        else last = null
      }
      if (pending == null && last == null && anchor.hasNext) {
        pending = anchor.next()
        depth = -1
      }
      pending != null
    }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      last = pending
      pending = null
      depth += 1
      last
    }
  }
}
