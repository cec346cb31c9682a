package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Composed-analyst stress queries (VERDICT r7 ask #8): each key chains
  * MULTIPLE custom operators (the AsOfJoin plan node / physical exec, the
  * BandedRangeJoin node, their SQL TVFs, dynamic partition pruning) inside
  * ONE declarative plan, pinning the optimizer interplay — rewrite-rule
  * ordering within a single analysis pass, AQE re-planning around the
  * custom exchanges, a DPP dim side fed BY a custom node — that the
  * single-operator keys can never exercise. All oracle-paired;
  * ComposedPlanSpec additionally asserts both custom shapes SURVIVE
  * together in the executed plan (no silent fallback to a
  * nested-loop/cartesian shape).
  *
  * Shared fixture semantics: purchases as-of their latest prior same-user
  * click (the join_asof contract), error-burst incidents as ≥30-min-gap
  * islands per day (the join_interval_bucketed contract).
  */
object ComposedOps {

  private def purchases(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))

  private def clicks(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))

  /** 30-min-gap error islands per day: (inc_day, inc_n, inc_start, inc_end). */
  private def incidents(s: SparkSession, dir: String): DataFrame = {
    val wd = Window.partitionBy("d").orderBy("ts", "event_id")
    Tables.events(s, dir).filter(col("event_type") === "error")
      .select(to_date(col("ts")).as("d"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("ts"), 1).over(wd))
      .withColumn("b", when(col("prev").isNull ||
        col("ts") > col("prev") + expr("INTERVAL 30 MINUTES"), 1).otherwise(0))
      .withColumn("inc_n", sum(col("b"))
        .over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"))
      .groupBy(col("d").as("inc_day"), col("inc_n"))
      .agg(min(col("ts")).as("inc_start"), max(col("ts")).as("inc_end"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Chain 1: PHYSICAL as-of exec → banded range join → aggregation, one
    // plan. The as-of output (every purchase + its latest prior click) is
    // the POINT side of the banded range join against the error-incident
    // intervals; per incident the key counts purchases that landed inside
    // it and how many of those had any prior click. Pins: AsOfJoinExec and
    // the band expansion coexist under AQE (two custom exchanges back to
    // back), the range-join rewrite fires on a child that is itself a
    // custom node's output, and neither degrades to a nested-loop shape
    // (ComposedPlanSpec). Scale: both joins are single-exchange linear
    // shapes; the aggregation collapses map-side.
    "composed_asof_range_day" -> ((s, dir) => {
      val asof = AsOf.join(purchases(s, dir), clicks(s, dir), key = "user_id",
        probeTs = "ts", buildTs = "click_ts", buildTie = "click_id")
      RangeJoin.join(asof, incidents(s, dir), ts = "ts",
          lo = "inc_start", hi = "inc_end", bandMicros = 3600000000L)
        .groupBy("inc_day", "inc_n")
        .agg(count(lit(1)).as("n_purch"),
          count(col("click_ts")).as("n_with_click"))
        .orderBy("inc_day", "inc_n")
    }),

    // Chain 2: custom as-of node FEEDING the dynamic-partition-pruning dim
    // side. The two strongest same-day-conversion days are derived THROUGH
    // the as-of join (AsOfJoinExec), then drive a DPP-pruned scan of the
    // day-partitioned archive sink — at 100 TB the broadcast dim's day set
    // becomes the runtime partition filter and only those two directories
    // are read (plan-guarded: dynamicpruning survives WITH the custom node
    // upstream of the dim). Aggregation over the pruned fact closes the
    // plan.
    "composed_asof_dpp_days" -> ((s, dir) => {
      val path = PipelineOps.writeSink(s, dir)
      val fact = Tables.parquet(s, path)
      val asof = AsOf.join(purchases(s, dir), clicks(s, dir), key = "user_id",
        probeTs = "ts", buildTs = "click_ts", buildTie = "click_id")
      val convDays = asof
        .filter(col("click_ts").isNotNull &&
          to_date(col("click_ts")) === to_date(col("ts")))
        .groupBy(to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("n_conv"))
        .orderBy(col("n_conv").desc, col("d"))
        .limit(2)
      fact.join(broadcast(convDays), Seq("d"))
        .groupBy("d", "n_conv")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("d")
    }),

    // Chain 3: the SAME chain-1 semantics through PURE SQL TEXT — the
    // asof_join(...) TVF nested under the range_join(...) TVF via a temp
    // view, so ONE analysis pass must run BOTH rewrite rules in the right
    // order (range-join rewrite sees an unresolved asof TVF as its point
    // side until the as-of rewrite fires). Identical oracle to chain 1 —
    // two code paths, one contract.
    "composed_sql_asof_range" -> ((s, dir) => {
      Tables.events(s, dir).createOrReplaceTempView("graft_events")
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW graft_cmp_purch AS
              |SELECT user_id, event_id, ts
              |FROM graft_events WHERE event_type = 'purchase'""".stripMargin)
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW graft_cmp_clicks AS
              |SELECT user_id, ts AS click_ts, event_id AS click_id
              |FROM graft_events WHERE event_type = 'click'""".stripMargin)
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW graft_cmp_asof AS
              |SELECT * FROM asof_join('graft_cmp_purch', 'graft_cmp_clicks',
              |                        'user_id', 'ts', 'click_ts', 'click_id')""".stripMargin)
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW graft_cmp_inc AS
              |WITH err AS (
              |  SELECT CAST(ts AS DATE) AS d, ts, event_id,
              |         lag(ts) OVER (PARTITION BY CAST(ts AS DATE)
              |                       ORDER BY ts, event_id) AS prev
              |  FROM graft_events WHERE event_type = 'error'),
              |brk AS (
              |  SELECT d, ts, event_id,
              |         CASE WHEN prev IS NULL OR ts > prev + INTERVAL 30 MINUTES
              |              THEN 1 ELSE 0 END AS b
              |  FROM err),
              |isl AS (
              |  SELECT d, ts,
              |         CAST(sum(b) OVER (PARTITION BY d ORDER BY ts, event_id
              |                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS inc_n
              |  FROM brk)
              |SELECT d AS inc_day, inc_n, min(ts) AS inc_start, max(ts) AS inc_end
              |FROM isl GROUP BY d, inc_n""".stripMargin)
      s.sql(
        """SELECT inc_day, inc_n, count(*) AS n_purch,
          |       count(click_ts) AS n_with_click
          |FROM range_join('graft_cmp_asof', 'graft_cmp_inc',
          |                'ts', 'inc_start', 'inc_end', 3600000000)
          |GROUP BY inc_day, inc_n
          |ORDER BY inc_day, inc_n""".stripMargin)
    }))

  private val asofRangeOracle: String =
    """WITH a AS (
      |  SELECT p_ts, asof_click_ts FROM (
      |    SELECT p.ts AS p_ts, c.ts AS asof_click_ts,
      |           row_number() OVER (PARTITION BY p.event_id
      |                              ORDER BY c.ts DESC, c.event_id DESC) AS rn
      |    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |      ON p.user_id = c.user_id AND c.ts <= p.ts
      |  ) WHERE rn = 1),
      |err AS (
      |  SELECT CAST(ts AS DATE) AS d, ts, event_id,
      |         lag(ts) OVER (PARTITION BY CAST(ts AS DATE)
      |                       ORDER BY ts, event_id) AS prev
      |  FROM events WHERE event_type = 'error'),
      |brk AS (
      |  SELECT d, ts,
      |         CASE WHEN prev IS NULL OR ts > prev + INTERVAL 30 MINUTE
      |              THEN 1 ELSE 0 END AS b,
      |         event_id
      |  FROM err),
      |isl AS (
      |  SELECT d, ts,
      |         CAST(sum(b) OVER (PARTITION BY d ORDER BY ts, event_id
      |                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS inc_n
      |  FROM brk),
      |inc AS (
      |  SELECT d AS inc_day, inc_n, min(ts) AS inc_start, max(ts) AS inc_end
      |  FROM isl GROUP BY d, inc_n)
      |SELECT inc_day, inc_n, count(*) AS n_purch,
      |       count(asof_click_ts) AS n_with_click
      |FROM a JOIN inc ON a.p_ts BETWEEN inc_start AND inc_end
      |GROUP BY inc_day, inc_n
      |ORDER BY inc_day, inc_n""".stripMargin

  def oracle: Map[String, String] = Map(
    "composed_asof_range_day" -> asofRangeOracle,
    // identical semantics through the SQL TVF path ⇒ identical oracle
    "composed_sql_asof_range" -> asofRangeOracle,
    "composed_asof_dpp_days" ->
      """WITH a AS (
        |  SELECT p_ts, asof_click_ts FROM (
        |    SELECT p.ts AS p_ts, c.ts AS asof_click_ts,
        |           row_number() OVER (PARTITION BY p.event_id
        |                              ORDER BY c.ts DESC, c.event_id DESC) AS rn
        |    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |      ON p.user_id = c.user_id AND c.ts <= p.ts
        |  ) WHERE rn = 1),
        |conv AS (
        |  SELECT CAST(p_ts AS DATE) AS d, count(*) AS n_conv
        |  FROM a
        |  WHERE asof_click_ts IS NOT NULL
        |    AND CAST(asof_click_ts AS DATE) = CAST(p_ts AS DATE)
        |  GROUP BY 1 ORDER BY n_conv DESC, d LIMIT 2)
        |SELECT t.d, t.n_conv, count(*) AS n_events,
        |       count(DISTINCT e.user_id) AS n_users
        |FROM events e JOIN conv t ON CAST(e.ts AS DATE) = t.d
        |GROUP BY t.d, t.n_conv ORDER BY t.d""".stripMargin)
}
