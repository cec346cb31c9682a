package graft

/** AQE interplay guards for the custom Catalyst operators (VERDICT r6 ask
  * #7): batch runs ship with Spark 4's default AQE (adaptive execution +
  * skew-join splitting both on), and AQE re-optimizes the physical plan at
  * runtime — these tests pin, on the FINAL adaptive plan (isFinalPlan=true,
  * i.e. after every runtime re-plan has fired), that
  *
  *  - `AsOfJoinExec` keeps its co-partitioned merge shape: the custom node
  *    survives, no Window fallback, no nested loop, and exactly the two
  *    narrow per-side exchanges (AQE's skew rule only rewrites sort-merge
  *    joins, so it must leave the custom operator's required distribution
  *    alone);
  *  - the `BandedRangeJoin` expansion never degrades to a nested loop or
  *    cartesian product under AQE re-planning.
  *
  * Scale: the specs prefer the GenScale sf1 dir (`SPARK_GRAFT_SF1_DIR`,
  * default /tmp/scale/sf1 — the scale-ramp harness builds it) where AQE has
  * real per-partition sizes to act on, and fall back to the shipped sf0.1
  * testdata so the guard also runs in any environment.
  */
class AqeInteropSpec extends SparkSpec {

  private lazy val dataDir: String = {
    val sf1 = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/scale/sf1")
    if (new java.io.File(s"$sf1/events.parquet").exists) sf1
    else "/root/testdata/sf0.1"
  }

  /** Execute the exact plan (AQE finalizes only on execution) and return the
    * final adaptive plan string.
    */
  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.queryExecution.executedPlan.execute().count()
    df.queryExecution.executedPlan.toString
  }

  test("session really runs with AQE + skew-join on (the production default)") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
  }

  test("AsOfJoinExec keeps the co-partitioned merge shape on the final AQE plan") {
    val df = operators.RelationalOps.queries("join_asof_exec")(spark, dataDir)
    val p = finalPlan(df)
    assert(p.contains("isFinalPlan=true"),
      "guard must inspect the post-execution adaptive plan:\n" + p.take(800))
    assert(p.contains("AsOfJoin ") && !p.contains("!AsOfJoin"),
      "AQE re-plan lost the physical as-of node:\n" + p.take(1500))
    assert(!p.contains("Window"),
      "AQE re-plan put a Window into the as-of plan:\n" + p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(1500))
    // AdaptiveSparkPlan.toString prints the final AND the initial plan —
    // count exchanges in the final section only
    val finalSection = p.split("== Initial Plan ==").head
    assert(finalSection.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") == 2,
      "the merge must keep exactly its two narrow per-side exchanges:\n" + p.take(2000))
  }

  test("BandedRangeJoin expansion stays NLJ-free on the final AQE plan") {
    val df = operators.SqlOps.queries("sql_range_join")(spark, dataDir)
    val p = finalPlan(df)
    assert(p.contains("isFinalPlan=true"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "AQE re-plan reintroduced a nested loop into the banded range join:\n" +
        p.take(2000))
    assert(p.contains("Generate"),
      "interval banding must still explode via Generate:\n" + p.take(1500))
  }
}
