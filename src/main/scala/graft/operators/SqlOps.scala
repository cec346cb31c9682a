package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The pure-SQL entry surface (SURVEY.md §3.3): the reference delegates its
  * whole analytical surface to "SQL over the archive table" (ref:
  * README.md:4-6, 8-17), so a user migrating from it arrives with SQL text,
  * not DataFrame code. These keys register the engine's tables as temp views
  * and run the query through `spark.sql` — Catalyst compiles it to the same
  * optimized plan the DataFrame API would produce (one analyzer, one
  * optimizer), so everything demonstrated elsewhere (pushdown, broadcast,
  * AQE) applies to SQL text unchanged. Views are (re-)registered per call
  * with a `graft_` prefix: registration is a session-catalog metadata op
  * (no scan), and re-pointing per scale dir keeps concurrent scales from
  * reading each other's data.
  */
object SqlOps {

  private def withViews(s: SparkSession, dir: String, tables: String*)(
      sql: String): DataFrame = {
    tables.foreach(t => Tables.table(s, dir, t).createOrReplaceTempView(s"graft_$t"))
    s.sql(sql)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q3 shape (segment filter → 3-way join → revenue aggregate →
    // top-10): the canonical "my old SQL, unchanged" query. Catalyst gets
    // to do everything the DataFrame twin would get: the segment filter
    // pushes into the customer scan, the customer side broadcasts, the
    // top-10 runs as TakeOrderedAndProject. Money math in DECIMAL(18,2) so
    // the sum is order-independent and bit-equal to the oracle.
    "sql_analytics" -> ((s, dir) =>
      withViews(s, dir, "customer", "orders", "lineitem")(
        """SELECT l_orderkey,
          |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
          |                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
          |       o_orderdate
          |FROM graft_customer
          |JOIN graft_orders   ON c_custkey = o_custkey
          |JOIN graft_lineitem ON l_orderkey = o_orderkey
          |WHERE c_mktsegment = 'BUILDING'
          |GROUP BY l_orderkey, o_orderdate
          |ORDER BY revenue DESC, l_orderkey
          |LIMIT 10""".stripMargin)),

    // Correlated EXISTS (decorrelated by Catalyst to a semi join) + a
    // scalar subquery (computed once, broadcast as a literal) — the two
    // subquery shapes migrated SQL leans on hardest. max() in the scalar
    // subquery, not avg(): double avg is summation-order-dependent across
    // engines, max is exact.
    "sql_subquery" -> ((s, dir) =>
      withViews(s, dir, "orders", "lineitem")(
        """SELECT o_orderkey, o_totalprice
          |FROM graft_orders o
          |WHERE EXISTS (SELECT 1 FROM graft_lineitem l
          |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
          |  AND o_totalprice > 0.9 * (SELECT max(o_totalprice) FROM graft_orders)
          |ORDER BY o_orderkey""".stripMargin)),

    // LATERAL correlated subquery — "top-2 per group" phrased the way
    // migrated warehouse SQL phrases it (a per-row dependent subquery with
    // ORDER BY + LIMIT). Catalyst plans the lateral as a join and the
    // per-key limit via the same window-group-limit machinery as
    // `topk_per_group`, so the SQL spelling costs nothing extra. The
    // nationkey equality is the join key; nation is 25 rows, broadcast.
    "sql_lateral" -> ((s, dir) =>
      withViews(s, dir, "nation", "customer")(
        """SELECT n_name, c_custkey, c_acctbal
          |FROM graft_nation,
          |LATERAL (SELECT c_custkey, c_acctbal FROM graft_customer
          |         WHERE c_nationkey = n_nationkey
          |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
          |ORDER BY n_name, c_acctbal DESC, c_custkey""".stripMargin)),

    // Recursive CTE (hierarchy walk): each customer key's synthetic
    // ancestor chain key -> key/2 -> ... -> 1 — the iterate-in-SQL surface
    // (ClickHouse and every warehouse dialect ship it). The step is a
    // Project/Filter of the previous row, so it plans as
    // plans.RowLocalUnionLoopExec: each task walks its anchor rows' chains
    // in one pass, with one extra job to check Spark's recursion limits,
    // instead of Spark's UnionLoopExec job per level (PlanSpec pins the plan
    // and the job count). Integer division is `DIV` here and
    // `//` in the DuckDB twin — the one dialect difference; CAST(x/2 AS
    // BIGINT) would NOT be portable (Spark truncates, DuckDB rounds).
    "sql_recursive" -> ((s, dir) =>
      withViews(s, dir, "customer")(
        """WITH RECURSIVE anc(custkey, anc_key, depth) AS (
          |  SELECT c_custkey, c_custkey, 0 FROM graft_customer
          |  UNION ALL
          |  SELECT custkey, anc_key DIV 2, depth + 1 FROM anc WHERE anc_key > 1
          |)
          |SELECT custkey, count(*) AS n_anc, max(depth) AS max_depth
          |FROM anc GROUP BY custkey ORDER BY custkey""".stripMargin)),

    // The as-of join from pure SQL text (VERDICT r5 ask #2): the
    // `asof_join(...)` table-valued function (GraftExtensions →
    // plans.AsOfJoinTvf) names two temp views and the key/ts/tie columns;
    // AsOfJoinRewrite validates it into the same AsOfJoin node as
    // `join_asof_plan`, planned as AsOfJoinExec. Probe/build views are
    // themselves created with SQL text — the whole query path is spark.sql.
    // Same oracle as `join_asof`; AsOfJoinPlanSpec pins plan-shape equality.
    "sql_asof" -> ((s, dir) => {
      graft.Tables.events(s, dir).createOrReplaceTempView("graft_events")
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW graft_asof_purchases AS
              |SELECT user_id, event_id, ts
              |FROM graft_events WHERE event_type = 'purchase'""".stripMargin)
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW graft_asof_clicks AS
              |SELECT user_id, ts AS click_ts, event_id AS click_id
              |FROM graft_events WHERE event_type = 'click'""".stripMargin)
      s.sql(
        """SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts,
          |       click_ts AS asof_click_ts
          |FROM asof_join('graft_asof_purchases', 'graft_asof_clicks',
          |               'user_id', 'ts', 'click_ts', 'click_id')
          |ORDER BY p_id""".stripMargin)
    }),

    // The banded range join from pure SQL text: `range_join(...)`
    // (GraftExtensions → plans.RangeJoinTvf) names the points/intervals
    // views, the bound columns, and the band width; RangeJoinRewrite
    // expands it to the explode-bands + equi-join + exact-filter plan — a
    // SQL user writes the declarative point-in-interval join and can no
    // longer get the broadcast-nested-loop plan the naive BETWEEN join
    // produces. Fixture: the same 30-min-gap error-incident islands as
    // `join_interval_bucketed` (same oracle), built here with SQL text so
    // the whole path is spark.sql. Band = 1 hour, matching the incident
    // duration scale; RangeJoinPlanSpec pins band-width invariance.
    "sql_range_join" -> ((s, dir) => {
      graft.Tables.events(s, dir).createOrReplaceTempView("graft_events")
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW graft_rj_incidents AS
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
        """SELECT event_id, inc_day, inc_n, inc_start
          |FROM range_join('graft_events', 'graft_rj_incidents',
          |                'ts', 'inc_start', 'inc_end', 3600000000)
          |ORDER BY event_id""".stripMargin)
    }))

  def oracle: Map[String, String] = Map(
    // identical SQL modulo the view prefix — that is the point
    "sql_analytics" ->
      """SELECT l_orderkey,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |       o_orderdate
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "sql_subquery" ->
      """SELECT o_orderkey, o_totalprice
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
        |  AND o_totalprice > 0.9 * (SELECT max(o_totalprice) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,
    "sql_lateral" ->
      """SELECT n_name, c_custkey, c_acctbal
        |FROM nation,
        |LATERAL (SELECT c_custkey, c_acctbal FROM customer
        |         WHERE c_nationkey = n_nationkey
        |         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
        |ORDER BY n_name, c_acctbal DESC, c_custkey""".stripMargin,
    "sql_recursive" ->
      """WITH RECURSIVE anc(custkey, anc_key, depth) AS (
        |  SELECT c_custkey, c_custkey, 0 FROM customer
        |  UNION ALL
        |  SELECT custkey, anc_key // 2, depth + 1 FROM anc WHERE anc_key > 1
        |)
        |SELECT custkey, count(*) AS n_anc, max(depth) AS max_depth
        |FROM anc GROUP BY custkey ORDER BY custkey""".stripMargin,
    // same semantics as join_asof ⇒ same oracle
    "sql_asof" -> RelationalOps.asofBackwardOracle,
    // same semantics as join_interval_bucketed ⇒ same oracle
    "sql_range_join" ->
      """WITH err AS (
        |  SELECT CAST(ts AS DATE) AS d, ts, event_id,
        |         lag(ts) OVER (PARTITION BY CAST(ts AS DATE)
        |                       ORDER BY ts, event_id) AS prev
        |  FROM events WHERE event_type = 'error'),
        |brk AS (
        |  SELECT d, ts, event_id,
        |         CASE WHEN prev IS NULL OR ts > prev + INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS b
        |  FROM err),
        |isl AS (
        |  SELECT d, ts,
        |         CAST(sum(b) OVER (PARTITION BY d ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS inc_n
        |  FROM brk),
        |inc AS (
        |  SELECT d AS inc_day, inc_n, min(ts) AS inc_start, max(ts) AS inc_end
        |  FROM isl GROUP BY d, inc_n)
        |SELECT e.event_id, i.inc_day, i.inc_n, i.inc_start
        |FROM events e JOIN inc i
        |  ON e.ts BETWEEN i.inc_start AND i.inc_end
        |ORDER BY e.event_id""".stripMargin)
}
