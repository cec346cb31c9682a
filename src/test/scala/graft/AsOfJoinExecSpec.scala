package graft

import graft.operators.AsOf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The physical as-of join (plans/AsOfJoinExec, the only plan for an
  * AsOfJoin node): the plan shape (a real AsOfJoinExec node, no Window, no
  * nested loop), the left-join shape, and the SQL TVF path. Semantics on
  * every direction/tolerance combination, NULL ts and (key, ts) ties are
  * pinned against brute force in PropertySpec.
  */
class AsOfJoinExecSpec extends SparkSpec {

  private def events = Tables.events(spark, sf)
  private def purchases = events.filter(col("event_type") === "purchase")
    .select(col("user_id"), col("event_id"), col("ts"))
  private def clicks = events.filter(col("event_type") === "click")
    .select(col("user_id"), col("ts").as("click_ts"),
      col("event_id").as("click_id"))

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("exec plan: a real AsOfJoinExec node, no Window, no nested loop") {
    val df = AsOf.join(purchases, clicks, "user_id", "ts", "click_ts", "click_id")
    // the exec node prints as "AsOfJoin" (TreeNode strips the Exec
    // suffix); string-match because AQE wraps the plan out of reach of
    // SparkPlan.exists before execution
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin "),
      "strategy must plan the node as AsOfJoinExec:\n" + p.take(1500))
    assert(!p.contains("!AsOfJoin"),
      "exec node must declare produced/references cleanly (no invalid marker):\n" + p.take(1500))
    assert(!p.contains("Window"), "the as-of plan must not contain a Window:\n" + p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(1200))
    // two narrow per-side exchanges, not a union shape
    assert(p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") == 2, p.take(1500))
  }

  test("exec: probe rows all survive; unmatched carry is null; empty build side") {
    val out = AsOf.join(purchases, clicks, "user_id", "ts", "click_ts", "click_id")
    assert(out.count() == purchases.count())
    val none = clicks.filter(lit(false))
    val empty = AsOf.join(purchases, none, "user_id", "ts", "click_ts", "click_id")
    assert(empty.count() == purchases.count())
    assert(empty.filter(col("click_ts").isNotNull).count() == 0)
  }

  test("exec: SQL TVF path plans the physical operator and matches the window result") {
    purchases.createOrReplaceTempView("tvf_purchases")
    clicks.createOrReplaceTempView("tvf_clicks")
    val df = spark.sql(
      """SELECT event_id AS p_id, click_ts
        |FROM asof_join('tvf_purchases', 'tvf_clicks',
        |               'user_id', 'ts', 'click_ts', 'click_id')
        |ORDER BY p_id""".stripMargin)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin ") && !p.contains("Window"), p.take(1200))
    // the hand-built union-tag-sort + running-last window composition
    val viaWindow = SparkEntry.queries("join_asof")(spark, sf)
      .select("p_id", "asof_click_ts")
    assert(rows(df) == rows(viaWindow))
  }
}
