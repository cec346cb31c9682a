package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.TimestampType

/** First-class AS-OF JOIN as a Catalyst logical operator (SURVEY.md §7.3,
  * VERDICT r4 ask #8).
  *
  * The engine's as-of keys (`join_asof`, `_forward`, `_tolerance`,
  * `_nearest`) encode the union-tag-sort + running last/first(ignoreNulls)
  * composition by hand at the DataFrame layer. This node lifts the as-of
  * contract to the PLAN layer: a user (or the `asof_join` SQL function)
  * declares `AsOfJoin(probe, build, key, ts, …)` and
  * [[AsOfJoinStrategy]] plans it as the merge operator [[AsOfJoinExec]] —
  * the scale contract (one narrow shuffle per side on the key, O(1) merge
  * state; never the quadratic range-join + row_number pairing) is owned by
  * the operator, not re-derived per query.
  *
  * Semantics (matching the hand-built keys and pandas `merge_asof`):
  *  - `backward`: latest build row with `b.ts <= p.ts` (inclusive);
  *    among equal-ts build rows the max `tie` wins.
  *  - `forward`: earliest build row with `b.ts >= p.ts` (inclusive);
  *    min `tie` wins on equal ts.
  *  - `nearest`: temporally closest in either direction; exact-tie distance
  *    resolves backward (the deterministic convention of
  *    `join_asof_nearest`).
  *  - `toleranceMicros`: backward/forward match is nulled out when staler
  *    than the bound (pandas `tolerance` / kdb `wj`).
  *
  * Every probe row survives (left-join shape); build columns (minus the
  * key) come back nullable. NULL ts rows follow the rules documented on
  * [[AsOfJoinExec]].
  */
final case class AsOfJoin(
    left: LogicalPlan,            // probe side
    right: LogicalPlan,           // build side
    keyCol: String,
    leftTsCol: String,
    rightTsCol: String,
    rightTieCol: String,
    direction: String,
    toleranceMicros: Option[Long],
    carriedOut: Seq[Attribute])   // pre-minted output attrs for the build payload
  extends BinaryNode {

  require(AsOfJoin.Directions.contains(direction),
    s"direction must be one of ${AsOfJoin.Directions.mkString("/")}, got $direction")

  override def output: Seq[Attribute] =
    if (childrenResolved) left.output.map(_.withNullability(true)) ++ carriedOut
    else Nil

  // the carried build-payload attrs are MINTED here, not read from the
  // children — declare them produced or CheckAnalysis flags the node as
  // referencing missing attributes on its way to the planner
  override def producedAttributes: AttributeSet = AttributeSet(carriedOut)

  // the node addresses child columns by NAME (key/ts/tie strings), which
  // Catalyst cannot see — declare every child column referenced, or
  // ColumnPruning strips the children down to nothing before planning
  override def references: AttributeSet = AttributeSet(children.flatMap(_.output))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

object AsOfJoin {
  val Backward = "backward"
  val Forward = "forward"
  val Nearest = "nearest"
  val Directions: Set[String] = Set(Backward, Forward, Nearest)

  /** Factory: validates the column contract against ANALYZED children and
    * mints the carried-output attributes once, so plan copies
    * (`withNewChildrenInternal`) never re-mint exprIds mid-analysis.
    */
  def build(left: LogicalPlan, right: LogicalPlan, keyCol: String,
            leftTsCol: String, rightTsCol: String, rightTieCol: String,
            direction: String, toleranceMicros: Option[Long]): AsOfJoin = {
    def attr(p: LogicalPlan, n: String, side: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"as-of join: column '$n' not found on the $side side " +
            s"(${p.output.map(_.name).mkString(", ")})"))
    val lk = attr(left, keyCol, "probe"); val rk = attr(right, keyCol, "build")
    require(lk.dataType == rk.dataType,
      s"as-of key type mismatch: ${lk.dataType} vs ${rk.dataType}")
    val lts = attr(left, leftTsCol, "probe")
    val rts = attr(right, rightTsCol, "build")
    require(lts.dataType == TimestampType && rts.dataType == TimestampType,
      s"as-of ts columns must be TimestampType (cast first): " +
        s"$leftTsCol=${lts.dataType}, $rightTsCol=${rts.dataType}")
    attr(right, rightTieCol, "build")
    // payload excludes the key by NAME, so a key that doubles as the build ts
    // (or tie) column would silently drop that column from the carried
    // output — reject the aliasing up front.
    require(keyCol != rightTsCol,
      s"as-of join: keyCol '$keyCol' cannot also be the build ts column — " +
        "project it under a second name first")
    require(keyCol != rightTieCol,
      s"as-of join: keyCol '$keyCol' cannot also be the build tie column — " +
        "project it under a second name first")
    val payload = right.output.filterNot(_.name == keyCol)
    val dup = payload.map(_.name).intersect(left.output.map(_.name))
    require(dup.isEmpty,
      s"as-of join: build columns ${dup.mkString(", ")} collide with probe " +
        "columns — rename before joining")
    val carried = payload.map(a => AttributeReference(a.name, a.dataType, nullable = true)())
    AsOfJoin(left, right, keyCol, leftTsCol, rightTsCol, rightTieCol,
      direction, toleranceMicros, carried)
  }
}

/** SQL-surface form of the as-of join (SURVEY.md §7.3, VERDICT r5 ask #2):
  * what the `asof_join(...)` table-valued function parses to. Children start
  * as [[org.apache.spark.sql.catalyst.analysis.UnresolvedRelation]]s (the SQL
  * user names tables, not plans), so the column contract can't be validated
  * at parse time; this node stays permanently unresolved (`output = Nil`)
  * until [[AsOfJoinRewrite]] sees resolved children and replaces it with
  * the [[AsOfJoin.build]] result in one step — parents (star-expansion
  * included) only ever see the validated node, never a half-built one whose
  * exprIds could churn between fixed-point rounds.
  */
final case class UnresolvedAsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    keyCol: String,
    leftTsCol: String,
    rightTsCol: String,
    rightTieCol: String,
    direction: String,
    toleranceMicros: Option[Long])
  extends BinaryNode {
  override lazy val resolved: Boolean = false
  override def output: Seq[Attribute] = Nil
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): UnresolvedAsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Argument parsing for the `asof_join` table-valued function, registered by
  * [[graft.GraftExtensions]]:
  *
  * {{{
  * SELECT * FROM asof_join(
  *   'probe_table', 'build_table',       -- any resolvable table/view names
  *   'key', 'probe_ts', 'build_ts', 'build_tie'
  *   [, 'backward'|'forward'|'nearest'   -- default backward
  *   [, <tolerance_micros>]])            -- integer literal, optional
  * }}}
  *
  * Table names may be multipart (`db.tbl`). All contract violations raise at
  * analysis with the same named errors as the Scala API ([[AsOfJoin.build]]).
  */
object AsOfJoinTvf {
  import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
  import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}

  def apply(args: Seq[Expression]): LogicalPlan = {
    require(args.length >= 6 && args.length <= 8,
      "asof_join expects 6-8 arguments: probe, build, key, probe_ts, " +
        s"build_ts, build_tie[, direction[, tolerance_micros]]; got ${args.length}")
    def str(i: Int, what: String): String = args(i) match {
      case Literal(v, StringType) if v != null => v.toString
      case o => throw new IllegalArgumentException(
        s"asof_join: $what (argument ${i + 1}) must be a string literal, got $o")
    }
    val direction = if (args.length >= 7) str(6, "direction") else AsOfJoin.Backward
    require(AsOfJoin.Directions.contains(direction),
      s"asof_join: direction must be one of " +
        s"${AsOfJoin.Directions.mkString("/")}, got '$direction'")
    val tol = if (args.length == 8) args(7) match {
      case Literal(v, ByteType | ShortType | IntegerType | LongType) if v != null =>
        Some(v.asInstanceOf[Number].longValue)
      case o => throw new IllegalArgumentException(
        s"asof_join: tolerance_micros (argument 8) must be an integer literal, got $o")
    } else None
    def rel(i: Int, what: String): LogicalPlan =
      UnresolvedRelation(str(i, what).split('.').toSeq)
    UnresolvedAsOfJoin(rel(0, "probe table"), rel(1, "build table"),
      str(2, "key"), str(3, "probe_ts"), str(4, "build_ts"),
      str(5, "build_tie"), direction, tol)
  }
}

/** Resolution rule: validates the SQL-surface [[UnresolvedAsOfJoin]] into
  * an [[AsOfJoin]] once its named tables resolve, so the SQL and Scala
  * entry points share one contract-error surface. Registered by
  * [[graft.GraftExtensions]]; [[AsOfJoinStrategy]] plans every node.
  */
final case class AsOfJoinRewrite(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case u: UnresolvedAsOfJoin if u.childrenResolved =>
      AsOfJoin.build(u.left, u.right, u.keyCol, u.leftTsCol,
        u.rightTsCol, u.rightTieCol, u.direction, u.toleranceMicros)
  }
}
