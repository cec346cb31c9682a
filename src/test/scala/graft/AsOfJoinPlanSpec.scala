package graft

import graft.operators.AsOf
import graft.plans.AsOfJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** The plan-level as-of operator (graft.plans.AsOfJoin, planned as
  * AsOfJoinExec): semantics against the hand-built compositions, the
  * planned scale shape (the node survives analysis, two narrow keyed
  * exchanges, no Window, no NLJ), and the factory's contract validation.
  */
class AsOfJoinPlanSpec extends SparkSpec {

  private def events = Tables.events(spark, sf)
  private def purchases = events.filter(col("event_type") === "purchase")
    .select(col("user_id"), col("event_id"), col("ts"))
  private def clicks = events.filter(col("event_type") === "click")
    .select(col("user_id"), col("ts").as("click_ts"),
      col("event_id").as("click_id"))

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("backward matches the hand-built join_asof composition") {
    val viaPlan = AsOf.join(purchases, clicks, "user_id", "ts", "click_ts", "click_id")
      .select(col("event_id").as("p_id"), col("click_ts").as("asof_click_ts"))
      .orderBy("p_id")
    val handBuilt = SparkEntry.queries("join_asof")(spark, sf)
      .select("p_id", "asof_click_ts")
    assert(rows(viaPlan) == rows(handBuilt))
  }

  test("forward matches the hand-built join_asof_forward composition") {
    val c = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("ts"))
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
    val viaPlan = AsOf.join(c, p, "user_id", "ts", "purchase_ts", "purchase_id",
        direction = AsOfJoin.Forward)
      .select(col("event_id").as("c_id"), col("purchase_ts").as("next_purchase_ts"))
      .orderBy("c_id")
    val handBuilt = SparkEntry.queries("join_asof_forward")(spark, sf)
      .select("c_id", "next_purchase_ts")
    assert(rows(viaPlan) == rows(handBuilt))
  }

  test("nearest matches the hand-built join_asof_nearest composition") {
    val viaPlan = AsOf.join(purchases, clicks, "user_id", "ts", "click_ts", "click_id",
        direction = AsOfJoin.Nearest)
      .select(col("event_id").as("p_id"), col("click_ts").as("nearest_click_ts"))
      .orderBy("p_id")
    val handBuilt = SparkEntry.queries("join_asof_nearest")(spark, sf)
      .select("p_id", "nearest_click_ts")
    assert(rows(viaPlan) == rows(handBuilt))
  }

  test("backward tolerance matches the hand-built join_asof_tolerance") {
    val viaPlan = AsOf.join(purchases, clicks, "user_id", "ts", "click_ts", "click_id",
        toleranceMicros = Some(2L * 3600 * 1000000))
      .select(col("event_id").as("p_id"), col("click_ts").as("tol_click_ts"))
      .orderBy("p_id")
    val handBuilt = SparkEntry.queries("join_asof_tolerance")(spark, sf)
      .select("p_id", "tol_click_ts")
    assert(rows(viaPlan) == rows(handBuilt))
  }

  test("plan shape: AsOfJoin survives; two keyed exchanges; no Window, no NLJ") {
    val df = AsOf.join(purchases, clicks, "user_id", "ts", "click_ts", "click_id")
    assert(df.queryExecution.analyzed.exists(_.isInstanceOf[AsOfJoin]),
      "the node must survive analysis for AsOfJoinStrategy to plan it")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin ") && !p.contains("Window"), p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "as-of must never plan as a nested-loop pairing:\n" + p.take(1500))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 2,
      s"expected exactly TWO narrow keyed exchanges, got $exchanges:\n" + p.take(2000))
  }

  test("nearest + tolerance bounds BOTH carries (matches brute force)") {
    val tol = 30L * 60 * 1000000 // 30 min
    val viaPlan = AsOf.join(purchases, clicks, "user_id", "ts", "click_ts",
        "click_id", direction = AsOfJoin.Nearest, toleranceMicros = Some(tol))
      .select(col("event_id").as("p_id"), col("click_id").as("near_click_id"))
      .orderBy("p_id")
    // brute force: per probe row, the in-bound click minimizing |Δt|, ties
    // resolved backward then max click_id (the engine's tie convention)
    val brute = purchases.alias("p")
      .join(clicks.alias("c"), col("p.user_id") === col("c.user_id"), "left")
      .withColumn("dt",
        abs(unix_micros(col("p.ts")) - unix_micros(col("click_ts"))))
      .withColumn("ok", col("dt").isNotNull && col("dt") <= tol)
      .withColumn("back", (unix_micros(col("click_ts")) <= unix_micros(col("p.ts"))).cast("int"))
      // equal dt + equal back ⇒ identical click_ts, so the residual tie is
      // click_id only: max for backward (last-in-order), min for forward
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("p.event_id"))
          .orderBy(col("ok").desc, col("dt").asc, col("back").desc,
            when(col("back") === 1, col("click_id"))
              .otherwise(-col("click_id")).desc)))
      .filter(col("rk") === 1)
      .select(col("p.event_id").as("p_id"),
        when(col("ok"), col("click_id")).as("near_click_id"))
      .orderBy("p_id")
    assert(rows(viaPlan) == rows(brute))
    // and at least one row differs from unbounded nearest (bound is active)
    val unbounded = AsOf.join(purchases, clicks, "user_id", "ts", "click_ts",
        "click_id", direction = AsOfJoin.Nearest)
      .select(col("event_id").as("p_id"), col("click_id").as("near_click_id"))
      .orderBy("p_id")
    assert(rows(viaPlan) != rows(unbounded),
      "tolerance had no effect on this fixture — pick a tighter bound")
  }

  test("factory validates the column contract") {
    val pr = purchases
    // colliding payload names
    val badBuild = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"))
    val e1 = intercept[IllegalArgumentException](
      AsOf.join(pr, badBuild, "user_id", "ts", "ts", "event_id"))
    assert(e1.getMessage.contains("collide"))
    // missing column
    val e2 = intercept[IllegalArgumentException](
      AsOf.join(pr, clicks, "user_id", "ts", "nope", "click_id"))
    assert(e2.getMessage.contains("not found"))
    // non-timestamp ts
    val e3 = intercept[IllegalArgumentException](
      AsOf.join(pr, clicks.withColumn("click_ts", unix_micros(col("click_ts"))),
        "user_id", "ts", "click_ts", "click_id"))
    assert(e3.getMessage.contains("TimestampType"))
    // key aliased as the build ts / tie column (ADVICE r5: used to surface
    // as an opaque GetStructField(-1) analysis failure)
    val tsKeyed = clicks.select(col("click_ts").as("k"), col("click_id"))
    val e4 = intercept[IllegalArgumentException](
      AsOf.join(pr.select(col("ts").as("k"), col("event_id")), tsKeyed,
        "k", "k", "k", "click_id"))
    assert(e4.getMessage.contains("build ts column"))
    val e5 = intercept[IllegalArgumentException](
      AsOf.join(pr, clicks, "user_id", "ts", "click_ts", "user_id"))
    assert(e5.getMessage.contains("build tie column"))
  }

  test("SQL TVF: asof_join(...) matches the Scala node and plans identically") {
    purchases.createOrReplaceTempView("tvf_purchases")
    clicks.createOrReplaceTempView("tvf_clicks")
    val viaSql = spark.sql(
      """SELECT event_id AS p_id, click_ts
        |FROM asof_join('tvf_purchases', 'tvf_clicks',
        |               'user_id', 'ts', 'click_ts', 'click_id')
        |ORDER BY p_id""".stripMargin)
    val viaScala = AsOf.join(purchases, clicks, "user_id", "ts", "click_ts", "click_id")
      .select(col("event_id").as("p_id"), col("click_ts"))
      .orderBy("p_id")
    assert(rows(viaSql) == rows(viaScala))
    // identical physical shape: strip per-run ids and compare operator spines
    def spine(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect { case p => p.nodeName }
    assert(spine(viaSql) == spine(viaScala),
      s"SQL and Scala as-of must plan the same:\n${spine(viaSql)}\nvs\n${spine(viaScala)}")
  }

  test("SQL TVF: direction + tolerance arguments and validation") {
    purchases.createOrReplaceTempView("tvf_purchases")
    clicks.createOrReplaceTempView("tvf_clicks")
    val tol = 2L * 3600 * 1000000
    val viaSql = spark.sql(
      s"""SELECT event_id AS p_id, click_ts
         |FROM asof_join('tvf_purchases', 'tvf_clicks',
         |               'user_id', 'ts', 'click_ts', 'click_id',
         |               'backward', $tol)
         |ORDER BY p_id""".stripMargin)
    val viaScala = AsOf.join(purchases, clicks, "user_id", "ts", "click_ts",
        "click_id", toleranceMicros = Some(tol))
      .select(col("event_id").as("p_id"), col("click_ts"))
      .orderBy("p_id")
    assert(rows(viaSql) == rows(viaScala))
    val badDir = intercept[Exception](spark.sql(
      """SELECT * FROM asof_join('tvf_purchases', 'tvf_clicks',
        |'user_id', 'ts', 'click_ts', 'click_id', 'sideways')""".stripMargin))
    assert(badDir.getMessage.contains("direction"))
    val badArity = intercept[Exception](
      spark.sql("SELECT * FROM asof_join('tvf_purchases', 'tvf_clicks')"))
    assert(badArity.getMessage.contains("6-8 arguments"))
    val badCol = intercept[Exception](spark.sql(
      """SELECT * FROM asof_join('tvf_purchases', 'tvf_clicks',
        |'user_id', 'ts', 'nope', 'click_id')""".stripMargin))
    assert(badCol.getMessage.contains("not found"))
  }

  test("probe rows all survive; unmatched carry is null (left-join shape)") {
    val out = AsOf.join(purchases, clicks, "user_id", "ts", "click_ts", "click_id")
    assert(out.count() == purchases.count())
    assert(out.schema("click_ts").nullable && out.schema("click_id").nullable)
    // ts normalized upstream by Tables.events; carried ts keeps its type
    assert(out.schema("click_ts").dataType == TimestampType)
  }
}
