package graft

/** Plan-shape guards for the composed-analyst chains (VERDICT r7 ask #8):
  * the point of ComposedOps is that MULTIPLE custom operators survive in
  * ONE executed plan — these tests pin exactly that, plus result equality
  * between the DataFrame and SQL-TVF paths of the same chain.
  */
class ComposedPlanSpec extends SparkSpec {

  private def plan(key: String): String =
    operators.ComposedOps.queries(key)(spark, sf)
      .queryExecution.executedPlan.toString.toLowerCase

  test("composed_asof_range_day: AsOfJoinExec AND the band equi-join coexist, no NLJ") {
    val p = plan("composed_asof_range_day")
    assert(p.contains("asofjoinexec") || p.contains("asofjoin"),
      "the physical as-of operator must survive the composition:\n" + p.take(2000))
    assert(p.contains("band"),
      "the range-join band expansion must survive the composition:\n" + p.take(2000))
    assert(!p.contains("broadcastnestedloop") && !p.contains("cartesianproduct"),
      "neither custom join may degrade to a nested-loop shape:\n" + p.take(2000))
  }

  test("composed_asof_dpp_days: dynamic pruning survives with the as-of node upstream of the dim") {
    val p = plan("composed_asof_dpp_days")
    assert(p.contains("dynamicpruning"),
      "the custom-node-fed dim must still inject a runtime partition filter:\n" +
        p.take(2000))
    assert(p.contains("asofjoin ") && !p.contains("window"),
      "the physical as-of operator must be in the same plan:\n" + p.take(2000))
  }

  test("composed_sql_asof_range: both TVF rewrites fire in one analysis; equals the DataFrame chain") {
    val p = plan("composed_sql_asof_range")
    assert(!p.contains("unresolved"), "both TVFs must be rewritten:\n" + p.take(2000))
    assert(!p.contains("broadcastnestedloop") && !p.contains("cartesianproduct"),
      "the SQL path must get the same linear shapes:\n" + p.take(2000))
    val viaSql = operators.ComposedOps.queries("composed_sql_asof_range")(spark, sf)
      .collect().toSeq.map(_.toSeq)
    val viaDf = operators.ComposedOps.queries("composed_asof_range_day")(spark, sf)
      .collect().toSeq.map(_.toSeq)
    assert(viaSql == viaDf, "two code paths, one contract")
  }
}
