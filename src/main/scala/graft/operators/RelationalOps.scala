package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational core over the archive (SURVEY.md §2 group E).
  *
  * The reference delegates this whole surface to ClickHouse SQL
  * (ref: README.md:4-6, 8-17); here it is the Spark DataFrame API, leaving
  * join selection, pushdown, pruning and partial aggregation to Catalyst.
  *
  * Scale notes (100 TB discipline):
  *  - dimension joins (`region`, `nation`, `part`, `supplier`) broadcast
  *    explicitly — no shuffle of the fact side;
  *  - fact-fact joins (orders⋈lineitem) shuffle on the join key once and
  *    reuse that partitioning through the downstream aggregation;
  *  - every aggregate is expressed so Catalyst plans partial (map-side)
  *    aggregation before the exchange;
  *  - money sums go through decimal(18,2) (exact, order-independent) and
  *    are cast back to double at the edge (Tables.dec).
  */
object RelationalOps {
  import Tables.dec

  /** Sorted per-user purchase-id arrays — the array-typed core of
    * `agg_collect`. Kept as a named helper so AnalyticsOpsSpec can pin the
    * array semantics directly while the query key serializes to a
    * driver-comparable string column.
    */
  def aggCollectArrays(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sort_array(collect_list(col("event_id"))).as("ids"),
        count(lit(1)).as("n"))

  /** Shared pre-aggregation for the rollup/cube/grouping-sets family
    * (r10, guide §2.3): one exact partial cell per (flag, status) —
    * `ps` = sum(decimal qty), `pn` = count — so the Expand that implements
    * the grouping sets replicates ~12 cells instead of every raw row.
    * Exactness: decimal sums and long counts re-aggregate associatively,
    * so every grouping set's total is bit-identical to aggregating the
    * raw rows directly.
    */
  private def groupingCells(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum(dec(col("l_quantity"))).as("ps"), count(lit(1)).as("pn"))

  /** Backward as-of of purchases onto clicks through the plan-level
    * operator: the shared body of `join_asof_plan` and `join_asof_exec`.
    */
  private val asofViaNode: (SparkSession, String) => DataFrame = (s, dir) => {
    val e = Tables.events(s, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    AsOf.join(purchases, clicks, key = "user_id",
        probeTs = "ts", buildTs = "click_ts", buildTie = "click_id")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"), col("click_ts").as("asof_click_ts"))
      .orderBy("p_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // E1: projection + predicate algebra (IN, BETWEEN, LIKE, IS NULL, bool).
    "filter_pred" -> ((s, dir) => {
      Tables.orders(s, dir)
        .filter(
          col("o_orderstatus").isin("F", "O") &&
          col("o_totalprice").between(1000.0, 200000.0) &&
          col("o_orderpriority").like("1%") &&
          col("o_orderdate").isNotNull &&
          !(col("o_custkey") % 7 === 0))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
    }),

    // E2: equi inner join on the fact-fact edge; Spark picks SMJ/SHJ.
    "join_inner" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("o_custkey"),
          col("o_orderstatus"), dec(col("l_extendedprice")).cast(DoubleType).as("price"))
        // (l_orderkey, l_linenumber) is NOT unique in this data — the
        // (partkey, suppkey) tail makes the output order total (driver
        // compares rows in order; ties would flap between engines)
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    }),

    // E3: broadcast join — small dim shipped to every task, zero fact shuffle.
    "join_broadcast" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
        .filter(col("p_brand") === "Brand#3")
        .select("l_orderkey", "l_linenumber", "l_suppkey", "p_partkey",
          "p_name", "p_brand")
        // total order: (orderkey, linenumber) ties exist (see join_inner)
        .orderBy("l_orderkey", "l_linenumber", "p_partkey", "l_suppkey")
    }),

    // E4: left outer join — customers with zero orders survive.
    "join_outer" -> ((s, dir) => {
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"),
          coalesce(sum(dec(col("o_totalprice"))), lit(0).cast("decimal(18,2)"))
            .cast(DoubleType).as("total_spent"))
        .orderBy("c_custkey")
    }),

    // E5: semi + anti in one result, flagged.
    "join_semi_anti" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit("has_orders").as("kind"))
      val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), lit("no_orders").as("kind"))
      semi.unionAll(anti).orderBy("c_custkey", "kind")
    }),

    // E6: theta/range join against a tiny literal band table (broadcast NLJ).
    "join_range" -> ((s, dir) => {
      import s.implicits._
      val bands = Seq(("low", 0.0, 500.0), ("mid", 500.0, 1200.0), ("high", 1200.0, 1e9))
        .toDF("band", "lo", "hi")
      Tables.part(s, dir)
        .join(broadcast(bands),
          col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
        .select("p_partkey", "p_name", "band")
        .orderBy("p_partkey")
    }),

    // E7: as-of join — for each purchase, the latest same-user click at or
    // before it. Formulation: union-tag-sort + running last(ignoreNulls)
    // (the merge-join shape of as-of, public asof-join literature): clicks
    // and purchases are unioned, sorted by (ts, kind, id) within each user,
    // and every purchase reads the click timestamp carried so far. ONE
    // shuffle on user_id and linear per-row state — a range-join +
    // row_number composition would materialize purchase x all-prior-clicks
    // per user first, which is quadratic on hot users at archive scale.
    // Sort order encodes the semantics: kind=0 (click) before kind=1
    // (purchase) at equal ts makes the bound inclusive (c_ts <= p_ts), and
    // ascending id makes the last-seen click the max-event_id tie-winner,
    // matching the oracle's (ts DESC, event_id DESC) pick.
    "join_asof" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), lit(0).as("kind"),
          col("event_id"), col("ts").as("click_ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), lit(1).as("kind"),
          col("event_id"), lit(null).cast(TimestampType).as("click_ts"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("kind"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clicks.unionAll(purchases)
        .withColumn("asof_click_ts", last(col("click_ts"), ignoreNulls = true).over(w))
        .filter(col("kind") === 1)
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"), col("asof_click_ts"))
        .orderBy("p_id")
    }),

    // E7b: FORWARD as-of — for each click, the next same-user purchase at
    // or after it (the "time-to-convert" direction). Mirror of join_asof:
    // same union-tag-sort, but the running value is first(ignoreNulls) over
    // the FOLLOWING frame. Kind order makes the bound inclusive (purchase
    // kind=1 sorts after click kind=0 at equal ts, so a same-instant
    // purchase is inside the click's frame), ascending event_id makes the
    // earliest purchase the min-event_id tie-winner — matching the oracle's
    // (ts ASC, event_id ASC) pick. Still ONE keyed exchange, linear.
    // E7b: as-of with a STALENESS TOLERANCE (pandas merge_asof
    // tolerance / kdb wj) — the match is the latest prior click only if
    // it is at most 2 h stale, else null: "price as of trade time, but
    // never a quote older than X". Same single keyed exchange as
    // `join_asof` (the latest prior row IS the nearest, so if it misses
    // the tolerance nothing matches); the bound is one null-out
    // projection after the window.
    "join_asof_tolerance" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), lit(0).as("kind"),
          col("event_id"), col("ts").as("click_ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), lit(1).as("kind"),
          col("event_id"), lit(null).cast(TimestampType).as("click_ts"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("kind"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clicks.unionAll(purchases)
        .withColumn("asof", last(col("click_ts"), ignoreNulls = true).over(w))
        .filter(col("kind") === 1)
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"),
          when(col("asof").isNotNull &&
            col("ts") <= col("asof") + expr("INTERVAL 2 HOURS"), col("asof"))
            .as("tol_click_ts"))
        .orderBy("p_id")
    }),

    "join_asof_forward" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), lit(0).as("kind"),
          col("event_id"), lit(null).cast(TimestampType).as("purchase_ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), lit(1).as("kind"),
          col("event_id"), col("ts").as("purchase_ts"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("kind"), col("event_id"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      clicks.unionAll(purchases)
        .withColumn("next_purchase_ts",
          first(col("purchase_ts"), ignoreNulls = true).over(w))
        .filter(col("kind") === 0)
        .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"), col("next_purchase_ts"))
        .orderBy("c_id")
    }),

    // E7c: NEAREST as-of — each purchase pairs with its temporally closest
    // click in EITHER direction (equal distance resolves backward, the
    // deterministic convention). Both directional carries ride the SAME
    // union-tag-sort: last(ignoreNulls) preceding + first(ignoreNulls)
    // following share one user_id exchange and one sort — completing the
    // backward (join_asof) / forward (join_asof_forward) family without a
    // second shuffle, still linear per row.
    "join_asof_nearest" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), lit(0).as("kind"),
          col("event_id"), col("ts").as("click_ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), lit(1).as("kind"),
          col("event_id"), lit(null).cast(TimestampType).as("click_ts"))
      val ord = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("kind"), col("event_id"))
      val back = last(col("click_ts"), ignoreNulls = true)
        .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      val fwd = first(col("click_ts"), ignoreNulls = true)
        .over(ord.rowsBetween(Window.currentRow, Window.unboundedFollowing))
      clicks.unionAll(purchases)
        .withColumn("back", back).withColumn("fwd", fwd)
        .filter(col("kind") === 1)
        .withColumn("nearest_click_ts",
          when(col("back").isNull, col("fwd"))
            .when(col("fwd").isNull, col("back"))
            .when(unix_micros(col("ts")) - unix_micros(col("back")) <=
              unix_micros(col("fwd")) - unix_micros(col("ts")), col("back"))
            .otherwise(col("fwd")))
        .withColumn("direction",
          when(col("nearest_click_ts").isNull, lit(null).cast(StringType))
            .when(col("nearest_click_ts") <= col("ts"), "back")
            .otherwise("fwd"))
        .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
          col("ts").as("p_ts"), col("nearest_click_ts"), col("direction"))
        .orderBy("p_id")
    }),

    // E7d: the SAME backward as-of through the PLAN-LEVEL operator
    // (graft.plans.AsOfJoin, SURVEY.md §7.3): the query declares
    // `AsOfJoin(probe, build, key, ts, …)` and the planner runs it as the
    // merge operator plans/AsOfJoinExec — one narrow exchange per side,
    // O(1) merge state, identical semantics to `join_asof` (same oracle
    // SQL). `join_asof_exec` is the same query under the name the
    // AQE-interop test and earlier bench artifacts use.
    "join_asof_plan" -> asofViaNode,
    "join_asof_exec" -> asofViaNode,

    // E8: cross join (tiny×tiny only — a guard rail, not a pattern).
    // Market-basket association — support/confidence/lift for part pairs
    // co-purchased in the same order (the "customers who bought A also
    // bought B" scorer). The pair generator is a SELF-JOIN ON THE ORDER
    // KEY with p1 < p2 — fanout is k·(k−1)/2 per order where k is the
    // basket size (bounded small by the domain), never a parts×parts
    // cross. Per-part order counts are a Heaps-small dimension →
    // broadcast back onto the pair table; the order total is one
    // broadcast scalar. All counts are exact integers; lift/support/
    // confidence are integer ratios, round(6). At 100 TB the order-key
    // join co-locates each basket in one task — the only exchange that
    // scales with the corpus is the (p1,p2) pair aggregate, an
    // equality-keyed hash agg on a well-spread composite key.
    // r11 (guide §2.3/§3.3 + §8 — VERDICT r10 ask #4): the pair generator
    // was a SELF-JOIN of the distinct (order, part) posting table on the
    // order key — the posting table crossed an exchange once for the
    // distinct() and twice more for the join sides. The basket-array form
    // collapses each order to ONE row (collect_set dedups in-aggregate, so
    // the standalone distinct() exchange disappears), expands the
    // k·(k−1)/2 in-basket pairs with two Generates (no join, no shuffle —
    // the sorted set gives p1 < p2 strictly, identical to the old join
    // filter over distinct pairs), and partially aggregates the pair
    // counts map-side before the single (p1,p2) exchange. Per-part counts
    // and the order total derive from the same basket table (exact: a
    // basket row per distinct order, an array element per distinct
    // (order, part)). Pair set, counts and the integer-ratio outputs are
    // identical — pinned in R11RewriteEquivalenceSpec, oracle green.
    "market_basket_lift" -> ((s, dir) => {
      val baskets = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .groupBy("ok").agg(sort_array(collect_set(col("pk"))).as("parts"))
      val partCnt = baskets.select(explode(col("parts")).as("pk"))
        .groupBy("pk").agg(count(lit(1)).as("c"))
      val nOrders = baskets.agg(count(lit(1)).as("n_orders"))
      val pairs = baskets
        .select(posexplode(col("parts")).as(Seq("i", "p1")), col("parts"))
        .select(col("p1"),
          explode(slice(col("parts"), col("i") + lit(2),
            greatest(size(col("parts")) - col("i") - 1, lit(0)))).as("p2"))
        .groupBy("p1", "p2").agg(count(lit(1)).as("co"))
        .filter(col("co") >= 2)
      pairs
        .join(broadcast(partCnt.select(col("pk").as("p1"), col("c").as("c1"))), Seq("p1"))
        .join(broadcast(partCnt.select(col("pk").as("p2"), col("c").as("c2"))), Seq("p2"))
        .crossJoin(broadcast(nOrders))
        .select(col("p1"), col("p2"), col("co"), col("c1"), col("c2"),
          round(col("co").cast(DoubleType) / col("n_orders"), 6).as("support"),
          round(col("co").cast(DoubleType) / col("c1"), 6).as("confidence"),
          round(col("co").cast(DoubleType) * col("n_orders")
            / (col("c1") * col("c2")), 6).as("lift"))
        .orderBy("p1", "p2")
    }),

    "join_cross" -> ((s, dir) => {
      Tables.region(s, dir).select(col("r_regionkey"), col("r_name"))
        .crossJoin(Tables.nation(s, dir).select(col("n_nationkey"), col("n_name")))
        .orderBy("r_regionkey", "n_nationkey")
    }),

    // E2 at its 100-TB best: PRE-BUCKETED co-located fact-fact join. Both
    // sides are written ONCE bucketed by the join key (the Spark analog of
    // co-located storage — at scale, the nightly table layout); the join
    // then shuffles NEITHER side: bucketing IS the exchange, paid once at
    // write time and amortized over every subsequent join. Plan-guarded to
    // zero hash exchanges in PlanSpec. The merge hint pins sort-merge so
    // the demonstration doesn't degenerate to a broadcast at small SF.
    "join_bucketed" -> ((s, dir) => {
      // pathKey may contain '.', illegal in a table identifier — flatten it
      val key = OpCache.pathKey(dir).replaceAll("[^A-Za-z0-9_]", "_")
      val (ot, lt) = (s"orders_b_$key", s"lineitem_b_$key")
      OpCache.once(dir + "#bucketed") {
        if (!s.catalog.tableExists(ot)) {
          // a previous JVM's managed-table location survives the
          // in-memory catalog; clear it or CREATE TABLE refuses
          val wh = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"))
          val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
          Seq(ot, lt).foreach(t =>
            fs.delete(new org.apache.hadoop.fs.Path(wh, t), true))
          // the bucketed layout is purpose-built for this join: write only
          // the served columns (a 100-TB bucketed table is a projection of
          // the source, not a second full copy — lineitem here drops 11 of
          // 16 columns, which is most of the one-time build cost)
          Tables.orders(s, dir).select("o_orderkey", "o_totalprice")
            .write.mode("overwrite")
            .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ot)
          Tables.lineitem(s, dir)
            .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity")
            .write.mode("overwrite")
            .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(lt)
        }
        ot
      }
      s.table(ot).hint("merge")
        .join(s.table(lt).hint("merge"), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity"), col("o_totalprice"))
        // total order: (orderkey, linenumber) ties exist (see join_inner)
        .orderBy("o_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    }),

    // E2c: skew-resistant SALTED join — the join-side twin of
    // agg_skew_salted. Joining per-type statistics back onto the archive on
    // `event_type` alone (~5 values) sends every row of a hot key through
    // one reducer pair at 100 TB. Salting: the fact side carries
    // salt = hash(event_id) % 16, the small side is replicated x16 (explode
    // of a literal range — 16x a tiny table, not 16x the fact), and the
    // join key becomes (event_type, salt): 80 well-spread keys instead of 5
    // hot ones. The merge hint pins sort-merge so the demonstration doesn't
    // collapse to broadcast at test SF — the salted pattern is exactly for
    // dim sides too big to broadcast (derived stats tables often are).
    // Values are unchanged vs the unsalted join, which is what the oracle
    // states.
    "join_skew_salted" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val stats = e.groupBy("event_type")
        .agg(count(lit(1)).as("type_n"), sum(dec(col("value"))).as("sv"))
        .select(col("event_type"), col("type_n"),
          (col("sv").cast(DoubleType) / col("type_n")).as("avg_value"))
      val replicated = stats.withColumn("salt",
        explode(sequence(lit(0), lit(15))))
      e.select(col("event_id"), col("event_type"), col("value"),
          pmod(xxhash64(col("event_id")), lit(16)).cast(IntegerType).as("salt"))
        .hint("merge")
        .join(replicated.hint("merge"), Seq("event_type", "salt"))
        .select(col("event_id"), col("event_type"), col("value"),
          col("type_n"), col("avg_value"))
        .orderBy("event_id")
    }),

    // E9: hash aggregate with partial+final (TPC-H Q1 shape).
    "agg_group" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(dec(col("l_quantity"))).cast(DoubleType).as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast(DoubleType).as("sum_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // E9b: skew-resistant two-phase salted aggregation. `event_type` has ~5
    // values over the whole archive — at 100 TB a direct groupBy sends every
    // row of a hot key to ONE reducer. Salting spreads each key over 16
    // sub-keys for the (partial-friendly) first phase; the second phase
    // re-aggregates 5x16 tiny rows. Same result as direct groupBy (the
    // oracle checks exactly that); sums stay in decimal so the two-phase
    // summation order cannot change the value.
    "agg_skew_salted" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val salted = e
        .withColumn("salt", pmod(xxhash64(col("event_id")), lit(16)))
        .groupBy("event_type", "salt")
        .agg(count(lit(1)).as("pn"), sum(dec(col("value"))).as("pv"))
      salted.groupBy("event_type")
        .agg(sum(col("pn")).as("n"),
          sum(col("pv")).cast(DoubleType).as("sum_value"))
        .orderBy("event_type")
    }),

    // E9c: exact quantiles (ClickHouse `quantile*` analog). Exact
    // `percentile` shuffles each group's values to one reducer — correct
    // here and for the oracle; `agg_quantile_approx` below is the 100-TB
    // twin of the SAME query.
    "agg_quantile" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      e.groupBy("event_type")
        // ONE percentile ladder (r10): the three scalar calls each kept
        // their own value-count buffer; the array form sorts once per
        // group and serves every cut with identical interpolation.
        .agg(percentile(col("value"),
          array(lit(0.5), lit(0.95), lit(0.99))).as("qs"))
        .select(col("event_type"),
          round(element_at(col("qs"), 1), 4).as("p50"),
          round(element_at(col("qs"), 2), 4).as("p95"),
          round(element_at(col("qs"), 3), 4).as("p99"))
        .orderBy("event_type")
    }),

    // E12+: grouping indicators — with mixed subtotal rows in one result,
    // `grouping()` is how a consumer tells "the NULL that means ALL" from
    // a genuine NULL group key (the one thing COALESCE labels can't do if
    // 'ALL' were a real value). The portable bitmask is built explicitly
    // as g_rf·2 + g_ls so both engines agree on bit order.
    "agg_grouping_id" -> ((s, dir) => {
      // same §2.3 cell pre-aggregation as agg_rollup; grouping() bits are
      // computed by the outer rollup and unaffected by the inner aggregate
      groupingCells(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(coalesce(sum(col("pn")), lit(0L)).as("n"),
          grouping("l_returnflag").cast(LongType).as("g_rf"),
          grouping("l_linestatus").cast(LongType).as("g_ls"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("n"), col("g_rf"), col("g_ls"),
          (col("g_rf") * 2 + col("g_ls")).as("gid"))
        .orderBy("gid", "flag", "status")
    }),

    // E9c': the whole quantile LADDER in one aggregate (ClickHouse
    // `quantiles(...)(x)` analog) — one sort per group serves every
    // requested q, instead of one percentile call per cut re-gathering
    // the same values. Array-valued output is unnested to scalar columns
    // so the oracle hash stays flat.
    "agg_quantiles_multi" -> ((s, dir) => {
      // r10 rewrote exact `percentile` (an out-of-codegen
      // TypedImperativeAggregate) into order statistics over one per-flag
      // window sort. r11 (guide §2.5 — VERDICT r10 ask #5 class): the
      // 3-value partition key made that sort a skew wall — one reducer
      // sorts a third of the table at any scale. VALUE-DOMAIN BISECTION:
      // bucket rows by price (BucketRank.bucketOf — pure and monotone in
      // the value, so tied prices never split and bucket order refines
      // price order); per-(flag,bucket) counts give each bucket's global
      // rank offset, which locates the ≤2 ranked rows every requested cut
      // needs — only THOSE buckets' rows (≈8/nb of the data) are ranked,
      // with a tiny local sort. The interpolation algebra below is
      // unchanged from r10 (Percentile's own: position = p·(n−1), result
      // = (ceil−pos)·lower + (pos−floor)·upper — identical doubles given
      // identical rank values; the uv==lv short-circuit makes the guard
      // conditions explicit, and equality to Percentile holds at the
      // round(4) output grain, fixture-pinned). The value at a global
      // rank is independent of how row_number breaks price ties (the
      // sorted multiset is unique), so the two-level rank is exact —
      // pinned against the percentile aggregate at the round(4) output
      // grain in R10RewriteEquivalenceSpec. NULL prices are excluded up front
      // exactly as Percentile ignores them (ADVICE r10 #2; a no-op on
      // the fixture, where the column is non-null).
      val ps = Seq(0.25, 0.5, 0.75, 0.95)
      val nb = BucketRank.nBuckets(s)
      val base0 = Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_extendedprice"))
        .filter(col("l_extendedprice").isNotNull)
      val mm = base0.groupBy("l_returnflag")
        .agg(min(BucketRank.finite(col("l_extendedprice"))).as("mn"),
          max(BucketRank.finite(col("l_extendedprice"))).as("mx"))
      val b = BucketRank.joinGroup(base0, mm, "l_returnflag")
        .withColumn("bkt",
          BucketRank.bucketOf(col("l_extendedprice"), col("mn"), col("mx"), nb))
        .select(col("l_returnflag"), col("l_extendedprice"), col("bkt"))
      val wB = Window.partitionBy("l_returnflag").orderBy("bkt")
      val stats = b.groupBy("l_returnflag", "bkt").agg(count(lit(1)).as("bc"))
        .withColumn("off", sum("bc").over(wB) - col("bc"))
        .withColumn("n", sum("bc").over(Window.partitionBy("l_returnflag")))
      // buckets holding any cut's ranked rows (global 1-based ranks
      // flo_i+1 / hi_i+1, contiguous across buckets by construction)
      val needed = ps.map { p =>
        val pos = lit(p) * (col("n") - 1)
        (floor(pos) + 1).between(col("off") + 1, col("off") + col("bc")) ||
          (ceil(pos) + 1).between(col("off") + 1, col("off") + col("bc"))
      }.reduce(_ || _)
      val want = stats.filter(needed)
        .select(col("l_returnflag").as("w_rf"), col("bkt").as("w_bkt"),
          col("off"), col("n"))
      val wL = Window.partitionBy("l_returnflag", "bkt").orderBy("l_extendedprice")
      val base = b.join(broadcast(want),
          col("l_returnflag") <=> col("w_rf") && col("bkt") === col("w_bkt"))
        .withColumn("rn", col("off") + row_number().over(wL))
      val withPos = ps.zipWithIndex.foldLeft(base) { case (df, (p, i)) =>
        df.withColumn(s"pos$i", lit(p) * (col("n") - 1))
          .withColumn(s"flo$i", floor(col(s"pos$i")))
          .withColumn(s"hi$i", ceil(col(s"pos$i")))
      }
      val keep = ps.indices.map(i =>
        (col("rn") - 1 === col(s"flo$i")) || (col("rn") - 1 === col(s"hi$i")))
        .reduce(_ || _)
      val aggs = ps.indices.flatMap { i => Seq(
        max(when(col("rn") - 1 === col(s"flo$i"), col("l_extendedprice"))).as(s"lv$i"),
        max(when(col("rn") - 1 === col(s"hi$i"), col("l_extendedprice"))).as(s"uv$i"),
        max(col(s"pos$i")).as(s"p$i"),
        max(col(s"flo$i")).as(s"f$i"),
        max(col(s"hi$i")).as(s"h$i"))
      }
      val g = withPos.filter(keep)
        .groupBy("l_returnflag").agg(aggs.head, aggs.tail: _*)
      val qs = ps.indices.map { i =>
        when(col(s"h$i") === col(s"f$i") || col(s"uv$i") === col(s"lv$i"),
          col(s"lv$i"))
          .otherwise((col(s"h$i") - col(s"p$i")) * col(s"lv$i") +
            (col(s"p$i") - col(s"f$i")) * col(s"uv$i"))
      }
      g.select(col("l_returnflag"),
        round(qs(0), 4).as("p25"), round(qs(1), 4).as("p50"),
        round(qs(2), 4).as("p75"), round(qs(3), 4).as("p95"))
        .orderBy("l_returnflag")
    }),

    // E9d: the scale path for quantiles — `approx_percentile` keeps a
    // bounded sketch per group with map-side partial merge (ClickHouse
    // `quantileTDigest` analog), so no group's values ever gather on one
    // reducer. Sketch-valued → rows-only check, no SQL oracle (same policy
    // as agg_approx_distinct); `accuracy` pinned so results are
    // deterministic for the rows check.
    "agg_quantile_approx" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      e.groupBy("event_type")
        .agg(
          approx_percentile(col("value"), lit(0.5), lit(10000)).as("p50"),
          approx_percentile(col("value"), lit(0.95), lit(10000)).as("p95"),
          approx_percentile(col("value"), lit(0.99), lit(10000)).as("p99"))
        .orderBy("event_type")
    }),

    // EXACT-REGIME sweep twin for the approx-quantile family (the
    // agg_theta_intersect_capped discipline): Greenwald-Khanna with
    // relativeError ε guarantees rank error ≤ ε·n, so once the splitHash
    // subsample keeps per-group n below 1/ε the permitted rank error is
    // < 1 — i.e. ZERO — and approx_percentile must return EXACTLY the
    // element at 1-indexed rank ceil(p·n), which DuckDB states with a
    // row_number. m derives from the same integers in both engines (theta
    // twin's formula; total kept ≈ 2000, ~400/group against ε⁻¹ = 100000 —
    // a 250× margin no key-skew in the fixtures can erode). The p·n
    // boundary is engine-safe: fractional parts of p·n are multiples of
    // 0.01 ≥ 0.01, nine orders above double error, so ceil agrees. The
    // count() is one bounded driver scalar (the documented collect
    // exception class). The UNCHANGED distributed aggregate runs —
    // including partial-summary merges across partitions, the 100-TB path.
    "agg_quantile_capped" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val n = ev.count()
      val q = (n + 1999L) / 2000L
      val m = if (q <= 1L) 1L else java.lang.Long.highestOneBit(q - 1L) << 1
      ev.filter(Tables.splitHash(col("event_id"), m) === 0L)
        .groupBy("event_type")
        .agg(
          approx_percentile(col("value"), lit(0.5), lit(100000)).as("p50"),
          approx_percentile(col("value"), lit(0.95), lit(100000)).as("p95"),
          approx_percentile(col("value"), lit(0.99), lit(100000)).as("p99"))
        .orderBy("event_type")
    }),

    // E11b: heavy hitters per group via a mergeable SpaceSaving sketch
    // (functions/ApproxTopK — the ClickHouse topK analog): per-group state
    // is O(capacity) regardless of input cardinality, partials merge
    // map-side — the bounded-memory path for "top repos / top tokens" over
    // 100 TB, where agg_collect's exact gather is impossible. Capacity 64
    // over a ~5-value column means no eviction ever fires and the sketch
    // is EXACT (its documented contract), so this key IS oracle-paired —
    // unlike the HLL estimate; err is part of the output because 0 proves
    // the no-eviction case held.
    "agg_approx_topk" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(graft.functions.api.approxTopK(col("event_type"), 3, 64).as("top"))
        .select(col("day"), posexplode(col("top")).as(Seq("rank", "t")))
        .select(col("day"), col("rank").cast(LongType).as("rank"),
          col("t.item").as("event_type"), col("t.cnt").as("n"),
          col("t.err").as("err"))
        .orderBy("day", "rank")
    }),

    // The weighted twin (ClickHouse `topKWeighted`): top event types by
    // summed VALUE, not row count — weights are exact integer cents
    // (decimal ×100) so the sketch totals are bit-deterministic, and
    // distinct types fit capacity, so the sketch is exact and the oracle
    // is the plain weighted top-3.
    "agg_approx_topk_weighted" -> ((s, dir) => {
      val cents = (dec(col("value")) * 100).cast(LongType)
      Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(graft.functions.api.approxTopKWeighted(
          col("event_type"), cents, 3, 64).as("top"))
        .select(col("day"), posexplode(col("top")).as(Seq("rank", "t")))
        .select(col("day"), col("rank").cast(LongType).as("rank"),
          col("t.item").as("event_type"), col("t.w").as("w_cents"),
          col("t.err").as("err"))
        .orderBy("day", "rank")
    }),

    // D-group extension: incremental aggregate maintenance — the ClickHouse
    // SummingMergeTree / materialized-view idiom a migrating user leans on.
    // Daily PARTIAL aggregates (count + decimal sum per type per day) are
    // materialized once (the nightly incremental job — at scale a persisted
    // day-partitioned table, here OpCache); the read-side query merges
    // partials instead of rescanning the archive: days-x-types rows in,
    // not the corpus. Decimal partials make the merge order-independent,
    // so merged == direct, which is exactly what the oracle states.
    "agg_incremental_merge" -> ((s, dir) => {
      val partials = OpCache.cached(dir,
        Tables.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(count(lit(1)).as("pn"), sum(dec(col("value"))).as("pv")))
      partials.groupBy("event_type")
        .agg(sum(col("pn")).as("n"),
          sum(col("pv")).cast(DoubleType).as("sum_value"))
        .orderBy("event_type")
    }),

    // E9e: list aggregation (ClickHouse groupArray / SQL array_agg analog)
    // made deterministic: collect_list order is partition-arrival order —
    // nondeterministic under retries, AQE re-planning and cluster resizes —
    // so the array is SORTED before it leaves the aggregate, the only
    // contract that is stable at any scale. The query key serializes the
    // array as a joined string (the raw array column is not comparable by
    // the driver harness); the array form itself is pinned in
    // AnalyticsOpsSpec via aggCollectArrays below.
    "agg_collect" -> ((s, dir) => {
      aggCollectArrays(s, dir)
        .select(col("user_id"),
          array_join(col("ids"), ",").as("ids_csv"), col("n"))
        .orderBy("user_id")
    }),

    // ClickHouse `sumMap` analog — the keyed-counter aggregate that
    // merges maps by summing per key (the state shape behind per-entity
    // breakdown MVs). Algebra = two-level hash aggregate: the
    // (day, type) partial collapses map-side, then the day-level reduce
    // assembles the map from SORTED entries (collect order is
    // partition-arrival order — nondeterministic at any scale — so the
    // map is built from sort_array like agg_collect). Serialized as
    // JSON because the driver harness cannot compare raw map columns;
    // key order in the JSON is the sorted entry order on both engines.
    "agg_sum_map" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .groupBy("day")
        .agg(
          to_json(map_from_entries(sort_array(
            collect_list(struct(col("event_type"), col("n"))))))
            .as("counts_json"),
          sum("n").as("n_events"))
        .orderBy("day")
    }),

    // ClickHouse `minMap`/`maxMap` analog — the extremes-by-key siblings
    // of sumMap: merge maps keeping the per-key min/max. Same two-level
    // algebra (the (day, type) extreme collapses map-side; the day-level
    // reduce assembles the sorted-entry map) and the same JSON
    // serialization contract. Values ride as integer CENTS
    // (round(value·100)) so the JSON number rendering is byte-identical
    // across engines — double-to-string formatting is the one place two
    // engines legitimately disagree, so it never enters the hash.
    "agg_minmax_map" -> ((s, dir) => {
      val cents = round(col("value") * 100).cast(LongType)
      Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(min(cents).as("mn"), max(cents).as("mx"))
        .groupBy("day")
        .agg(
          to_json(map_from_entries(sort_array(
            collect_list(struct(col("event_type"), col("mn"))))))
            .as("min_cents_json"),
          to_json(map_from_entries(sort_array(
            collect_list(struct(col("event_type"), col("mx"))))))
            .as("max_cents_json"))
        .orderBy("day")
    }),

    // E10: distinct + per-group count distinct.
    // r10 (guide §2.3): TWO distinct columns in one aggregate plan as
    // Expand × 3 — every raw row replicated before any aggregation. Each
    // distinct count instead collapses its own (flag, key) pairs first
    // (map-side partial dedup, no Expand anywhere), and the branches join
    // back broadcast-cheap.
    // r11 (ADVICE r10 #1): the branch form is now NULL-equivalent to
    // countDistinct, not just fixture-equivalent: countDistinct EXCLUDES
    // null values (the isNotNull filter reproduces that), and a NULL group
    // key never equi-joins, so the count(1) branch — which alone carries
    // every group — is the LEFT side with null-safe (<=>) join keys and
    // coalesce(…, 0) for groups whose column is all-null. Pinned by a
    // null-bearing case in R11RewriteEquivalenceSpec.
    "agg_distinct" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val base = li.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
      def dcount(c: String, as: String) =
        li.select(col("l_returnflag"), col(c))
          .filter(col(c).isNotNull).distinct()
          .groupBy("l_returnflag").agg(count(lit(1)).as(as))
          .withColumnRenamed("l_returnflag", s"${as}_rf")
      base
        .join(dcount("l_suppkey", "n_supp"),
          col("l_returnflag") <=> col("n_supp_rf"), "left")
        .join(dcount("l_partkey", "n_part"),
          col("l_returnflag") <=> col("n_part_rf"), "left")
        .select(col("l_returnflag"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"),
          coalesce(col("n_part"), lit(0L)).as("n_part"),
          col("n"))
        .orderBy("l_returnflag")
    }),

    // E11: approximate distinct (HLL++) — no oracle (approximate by design).
    // E10b: bounded-state distinct guard — ClickHouse `uniqUpTo(N)`:
    // exact distinct while ≤ N, saturates at N+1 ("more than N") with
    // O(N) state per group however large the group (functions/UniqUpTo).
    // The low-cardinality column exercises the exact regime, user_id the
    // saturated one (at sf0.01+); oracle = LEAST(count(DISTINCT x), N+1).
    "agg_uniq_up_to" -> ((s, dir) => {
      import graft.functions.api.uniqUpTo
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(uniqUpTo(pmod(col("event_id"), lit(37L)), 50).as("u_small"),
          uniqUpTo(col("user_id"), 50).as("u_users"))
        .orderBy("event_type")
    }),

    "agg_approx_distinct" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"))
        .orderBy("l_returnflag")
    }),

    // ERROR-BOUND contract twin for agg_approx_distinct: HLL++ has no
    // exact regime (unlike theta ≤ k or GK at n < 1/ε), so the oracle-
    // paired form is the bound itself — the exact arm is cross-engine
    // verified (DuckDB recomputes count DISTINCT), and the estimate must
    // sit within 3·rsd of it (rsd = 0.05 default ⇒ ±15%) for the row to
    // hash-match the oracle's literal `true`. Deterministic at every
    // decade: the estimate is a pure function of the input SET (register
    // maxima — order- and merge-independent), so the verdict cannot
    // flake. A sketch regression (hashing, bias correction, merge) walks
    // the estimate out of the band and flips the row.
    "agg_approx_distinct_bound" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("exact_parts"),
          approx_count_distinct(col("l_partkey")).as("est"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("est").cast(DoubleType) / col("exact_parts") - 1.0)
            <= 0.15).as("within_3rsd"))
        .orderBy("l_returnflag")
    }),

    // E11b: the two-level sketch rollup a 100-TB distinct-count MV needs —
    // day-level HLL partials (datasketches, serialized binary) merged with
    // hll_union_agg into the per-type total. The partials are reusable: any
    // day range rolls up from the SAME materialized sketches without
    // touching raw data — the mergeability `approx_count_distinct` alone
    // doesn't expose. No oracle (sketch estimate); NorthStarSpec pins
    // merged-vs-exact within 5% and merged == single-pass estimate.
    "agg_hll_merge" -> ((s, dir) => {
      val partials = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sketch"))
      partials
        .groupBy("event_type")
        .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("approx_users"))
        .orderBy("event_type")
    }),

    // ERROR-BOUND contract twin for agg_hll_merge (same discipline as
    // agg_approx_distinct_bound): the UNCHANGED two-level rollup runs —
    // day-level datasketches partials, hll_union_agg merge — and the
    // merged estimate must land within 5% of the exact per-type distinct
    // (lgK = 12 ⇒ rse ≈ 1.04/√4096 ≈ 1.6%; 3σ ≈ 5%, the NorthStarSpec
    // band, now swept at every decade instead of pinned once at spec
    // scale). The exact arm is the cross-engine anchor.
    "agg_hll_merge_bound" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val merged = ev
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sketch"))
        .groupBy("event_type")
        .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("est"))
      ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"))
        .join(merged, Seq("event_type"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("est").cast(DoubleType) / col("exact_users") - 1.0)
            <= 0.05).as("merged_within_bound"))
        .orderBy("event_type")
    }),

    // E9b: argMax/argMin (ClickHouse argMax analog) — which event carried
    // the extreme value, not just the extreme. The ordering key appends
    // event_id scaled below the value quantum (values are 2-decimal, so
    // distinct values differ by >= 0.01 -> gap 1e6 > max event_id), making
    // the tie-winner deterministic — a bare max_by(id, value) would flap
    // between engines on duplicated values (24k duplicated (type, value)
    // pairs at sf0.1). Identical IEEE arithmetic on both sides of the
    // oracle, so the composite key is bit-equal in Spark and DuckDB.
    "agg_argmax" -> ((s, dir) => {
      val key = col("value") * lit(1e8) + col("event_id")
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          max_by(col("event_id"), key).as("max_value_event"),
          min_by(col("event_id"), key).as("min_value_event"),
          max(col("value")).as("max_value"),
          min(col("value")).as("min_value"))
        .orderBy("event_type")
    }),

    // E9c: moment aggregates — avg/stddev/variance/correlation. Second
    // moments: both engines merge partial co-moments in different orders,
    // so results can differ in trailing ulps; round(6) makes the compare
    // stable while keeping ~9 significant digits on these magnitudes (the
    // exact-decimal route used for money sums has no analog for second
    // moments, and their true values are irrational — a true 6-dp half is
    // unreachable, so only the benign ulp-vs-boundary accident remains).
    // The FIRST moment is different (r8, the event_interpolate lesson as a
    // class): avg(value) is a RATIONAL of exact integers — cents/(100·n) —
    // and a group whose true average lands on an exact 6-dp half makes
    // round(double, 6) engine-dependent (RoundingBoundarySpec plants one).
    // So avg_value rounds in integer space: round6(p/q) = (2p·10⁶+q) div
    // (2q), DECIMAL(38,0) against Long overflow, one long→double at the
    // end — never a rounded double.
    "agg_stats" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          (sum(Tables.dec(col("value"))) * 100)
            .cast(DecimalType(38, 0)).as("sc"),
          round(stddev_samp(col("value")), 6).as("stddev_value"),
          round(var_pop(col("value")), 6).as("varp_value"),
          round(corr(col("value"), col("user_id").cast(DoubleType)), 6)
            .as("corr_value_user"))
        .select(col("event_type"), col("n"),
          (expr("(2 * sc * 10000 + n) div (2 * n)").cast(DoubleType) / 1e6)
            .as("avg_value"),
          col("stddev_value"), col("varp_value"), col("corr_value_user"))
        .orderBy("event_type")
    }),

    // E9d: bitwise aggregates over the id space (bit_and/bit_or/bit_xor) —
    // the xor fold is the order-independent checksum idiom this repo uses
    // wherever ANSI-mode sum() would overflow (SURVEY §7.4).
    "agg_bitwise" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          expr("bit_and(event_id)").as("ids_and"),
          expr("bit_or(event_id)").as("ids_or"),
          expr("bit_xor(event_id)").as("ids_xor"))
        .orderBy("event_type")
    }),

    // E9g: deterministic mode — the most frequent props.k per event type.
    // Built-in mode() is tie-arbitrary in BOTH engines (a correctness trap
    // this repo never ships); instead the winner is arg-max over
    // (count, key) with the count scaled above the key range, so ties break
    // to the LARGEST key identically everywhere. Two-level aggregate:
    // counts collapse map-side, the arg-max sees one row per (type, k).
    "agg_mode" -> ((s, dir) => {
      val counts = Tables.events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast(LongType).as("k"))
        .groupBy("event_type", "k").agg(count(lit(1)).as("cnt"))
      counts.groupBy("event_type")
        .agg(
          max_by(col("k"), col("cnt") * lit(1000L) + col("k")).as("mode_k"),
          max(col("cnt")).as("mode_n"))
        .orderBy("event_type")
    }),

    // E9e: fixed-width histogram (ClickHouse histogram analog, made
    // deterministic): width_bucket bins value into 12 buckets of 50 over
    // [0, 600). The DuckDB twin is the equivalent floor arithmetic —
    // width_bucket(v,0,600,12) == floor(v/50)+1 on this range — because
    // DuckDB has no width_bucket. Bucket bounds are emitted so the result
    // reads as a histogram, not bare bin ids.
    "agg_histogram" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(width_bucket(col("value"), lit(0d), lit(600d), lit(12)).as("bucket"),
          col("value"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          round(min(col("value")), 2).as("lo_seen"),
          round(max(col("value")), 2).as("hi_seen"))
        .withColumn("lo", (col("bucket") - 1).cast(DoubleType) * 50)
        .withColumn("hi", col("bucket").cast(DoubleType) * 50)
        .select("bucket", "lo", "hi", "n", "lo_seen", "hi_seen")
        .orderBy("bucket")
    }),

    // E9f: ordered string aggregation — SQL-standard LISTAGG ... WITHIN
    // GROUP (Spark 4), the string twin of agg_collect's sorted arrays.
    // The within-group order is on the aggregated value itself, so the
    // produced string is deterministic under any input order — the same
    // reason the DuckDB twin's string_agg(... ORDER BY) agrees.
    "agg_listagg" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n"),
          expr("listagg(event_type, ',') WITHIN GROUP (ORDER BY event_type)")
            .as("journey"))
        .orderBy("user_id")
    }),

    // E11c: count-min sketch — the third mergeable sketch next to HLL
    // (distinct) and SpaceSaving (top-k): point-frequency estimates under
    // fixed memory. One sketch per day; counters are sums, so the bytes
    // are order-independent and the fixed seed makes them reproducible —
    // the key emits the serialized day partials (base64) exactly as a
    // 100-TB MV would persist them. No SQL estimate/merge function exists,
    // so merging and the eps error bound are exercised through the public
    // CountMinSketch API in AnalyticsOpsSpec (rows-only key).
    "agg_count_min_sketch" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(base64(count_min_sketch(
          col("event_type"), lit(0.001), lit(0.99), lit(42))).as("sketch_b64"))
        .orderBy("day")
    }),

    // EXACT-DOMAIN sweep twin for the CMS family: a count-min estimate is
    // exact whenever, in at least one of the depth rows, the queried key
    // shares no cell with any other key present — and with the SAME eps/
    // conf/seed as agg_count_min_sketch (width ≈ 2719, depth 5) over the
    // ~5-value event_type enum, the cell map is fixed and collision-free
    // at EVERY decade (the key set never grows with scale; a collision
    // would fail the sf0.001 gate immediately and deterministically). So
    // the UNCHANGED distributed sketch aggregation — including cross-
    // partition merges — must reproduce the exact per-(day, type) counts
    // DuckDB computes. The driver-side query step reads one sketch per day
    // × one probe per enum value (bounded metadata, the documented collect
    // exception class — ~150 KB/day; estimateCount is how any consumer
    // reads a CMS MV).
    "agg_cms_exact_domain" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val types = ev.select("event_type").distinct()
        .as[String].collect().sorted
      // The day-partial collect is bounded by RETENTION, not data volume
      // (~150 KB/sketch at eps=0.001) — but retention is a deployment
      // knob, so the bound is enforced, not assumed (VERDICT r8 ask #8,
      // same discipline as the range-join band guard): past the cap this
      // fails with a named error instead of silently ballooning the
      // driver heap. `graft.cms.maxDays` raises it for long archives —
      // 2000 days ≈ 5.5 years ≈ 300 MB driver-side, comfortable anywhere.
      // The guard counts the day groups BEFORE the sketch collect (ADVICE
      // r9 #1: a post-collect require fires after the heap has already
      // ballooned) — one cheap distinct-count job, then the bounded pull.
      val maxDays = s.conf.getOption("graft.cms.maxDays").map(_.toInt)
        .getOrElse(2000)
      val nDays = ev.select(to_date(col("ts")).as("day")).distinct().count()
      require(nDays <= maxDays,
        s"agg_cms_exact_domain: $nDays day sketches exceed the " +
        s"driver-collect cap $maxDays (~150 KB each). Raise " +
        "graft.cms.maxDays, narrow the day range, or aggregate the probe " +
        "in-plan.")
      val days = ev
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count_min_sketch(
          col("event_type"), lit(0.001), lit(0.99), lit(42)).as("sk"))
        .collect()
      val rows = days.flatMap { r =>
        val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("sk")))
        types.map(t => (r.getDate(0), t, cms.estimateCount(t)))
      }.toSeq
      rows.toDF("day", "event_type", "est_n")
        .orderBy("day", "event_type")
    }),

    // E12a: rollup with grouping_id; NULL group keys coalesced for ordering.
    // r10 optimization (guide §2.3 "aggregate before you shuffle"): Spark
    // plans rollup/cube as Expand × #grouping-sets BELOW the partial
    // aggregate, so every raw row used to be replicated 3-4× before any
    // aggregation happened. sum and count are algebraic, so pre-aggregating
    // once per (flag, status) cell first — the full-resolution grouping set,
    // from which every coarser set derives — shrinks the Expand input from
    // |lineitem| to ~12 cells. sum-of-partial-sums (exact decimal) and
    // sum-of-partial-counts are value-identical to the direct aggregate;
    // coalesce pins the non-nullable long schema count(1) had.
    "agg_rollup" -> ((s, dir) => {
      groupingCells(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum(col("ps")).cast(DoubleType).as("sum_qty"),
          coalesce(sum(col("pn")), lit(0L)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("sum_qty"), col("n"))
        .orderBy("flag", "status")
    }),

    // E12b: cube. Same cell pre-aggregation as agg_rollup (guide §2.3) —
    // cube's 4 grouping sets made the Expand blowup worst in the family.
    "agg_cube" -> ((s, dir) => {
      groupingCells(s, dir)
        .cube("l_returnflag", "l_linestatus")
        .agg(sum(col("ps")).cast(DoubleType).as("sum_qty"),
          coalesce(sum(col("pn")), lit(0L)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("sum_qty"), col("n"))
        .orderBy("flag", "status")
    }),

    // E12c: GROUPING SETS — the general form rollup and cube sugar over:
    // exactly the requested groupings, nothing more (cube here would also
    // compute the by-status set nobody asked for — at 100 TB every extra
    // grouping set is another full pass through the aggregate's hash
    // tables). Same single-shuffle Expand-based plan as rollup/cube.
    "agg_grouping_sets" -> ((s, dir) => {
      groupingCells(s, dir)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("ps")).cast(DoubleType).as("sum_qty"),
          coalesce(sum(col("pn")), lit(0L)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("sum_qty"), col("n"))
        .orderBy("flag", "status")
    }),

    // E13: filtered/conditional aggregation — one pass, no extra scan.
    "agg_conditional" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_linestatus")
        .agg(
          sum(when(col("l_returnflag") === "R", dec(col("l_extendedprice")))
            .otherwise(lit(0).cast("decimal(18,2)"))).cast(DoubleType).as("returned_price"),
          count(when(col("l_discount") > 0.05, lit(1))).as("n_discounted"),
          count(lit(1)).as("n"))
        .orderBy("l_linestatus")
    }),

    // E14: ranking window functions (unique tie-break keeps row_number/ntile
    // deterministic).
    // r11 (guide §2.5 — VERDICT r10 ask #5): o_orderstatus has 3 values, so
    // the single window sorted a third of the table on ONE reducer at any
    // scale. Two-level SALTED top-k: a deterministic hash salt (never
    // rand() — guide §2.5 on retry-safety) spreads each status over the
    // session's parallelism, each salted slice keeps its local top-50 (a
    // superset of the global top-50: any globally top-50 row is top-50 in
    // its own slice), and the REAL rank/dense_rank/row_number windows run
    // over the ≤50·S survivors. For the kept rows those equal the
    // full-partition values because the ordering is TOTAL (o_orderkey
    // tie-break): the survivor set contains the complete top-50 prefix of
    // each partition. ntile(4) alone needs the FULL partition count n, so
    // it is served from (rn, n) by NTile's own bucket algebra
    // (BucketRank.ntileOf) with n from a broadcast pre-aggregated count —
    // pinned bit-equal against the single-window form (including n mod 4
    // and n < 4 cases) in R11RewriteEquivalenceSpec.
    "window_rank" -> ((s, dir) => {
      val k = 50
      val salts = math.max(1, s.sparkContext.defaultParallelism).toLong
      val wLoc = Window.partitionBy("o_orderstatus", "salt")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val o = Tables.orders(s, dir)
      val counts = o.groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      o.withColumn("salt", pmod(xxhash64(col("o_orderkey")), lit(salts)))
        .withColumn("lrn", row_number().over(wLoc))
        .filter(col("lrn") <= k)
        .join(broadcast(counts), Seq("o_orderstatus"))
        // ranks cast to long: DuckDB's window ranks are BIGINT and the
        // driver compares schemas, not just values.
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          col("n"),
          row_number().over(w).cast(LongType).as("rn"),
          rank().over(w).cast(LongType).as("rnk"),
          dense_rank().over(w).cast(LongType).as("drnk"))
        .filter(col("rn") <= k)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          col("rn"), col("rnk"), col("drnk"),
          BucketRank.ntileOf(col("rn"), col("n"), 4).as("quartile"))
        .orderBy("o_orderstatus", "rn")
    }),

    // E15: analytic window functions over event streams per user.
    "window_lag_lead" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("value"),
          lag(col("value"), 1).over(w).as("prev_value"),
          lead(col("value"), 1).over(w).as("next_value"),
          first(col("event_id")).over(wAll).as("first_event"),
          last(col("event_id")).over(wAll).as("last_event"))
        .orderBy("user_id", "event_id")
    }),

    // E16: aggregate-over-window with frames — running and moving sums.
    "window_running" -> ((s, dir) => {
      val ord = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val running = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val moving = ord.rowsBetween(-2, Window.currentRow)
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          sum(dec(col("value"))).over(running).cast(DoubleType).as("running_sum"),
          sum(dec(col("value"))).over(moving).cast(DoubleType).as("moving_sum3"))
        .orderBy("user_id", "event_id")
    }),

    // E16b: TIME-RANGE frame — trailing-hour running metrics per user (the
    // rate-limit / trailing-rate shape). RANGE frames bound by VALUE, not
    // row count: all peers of the current ts are in-frame, so the result
    // is deterministic even under duplicate timestamps, where a rows-frame
    // would depend on tie order. Spark range frames take a numeric order
    // key → epoch MICROseconds, full timestamp precision: unix_timestamp()
    // truncates to seconds, which silently widens the frame for events a
    // fraction past the hour boundary (caught by the sf0.1 sweep — sf0.01
    // had no pair that close to 1h apart). The oracle's RANGE BETWEEN
    // INTERVAL phrasing is the same µs-precise frame over the raw ts.
    "window_time_range" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600L * 1000000L, 0)
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"),
          count(lit(1)).over(w).as("n_trailing_1h"),
          sum(dec(col("value"))).over(w).cast(DoubleType).as("sum_trailing_1h"))
        .orderBy("user_id", "event_id")
    }),

    // E16c: forward fill (last_value IGNORE NULLS) — the observe-and-carry
    // primitive behind sensor gap repair and sparse-attribute densification.
    // Purchases carry a reading; every other event carries the latest
    // purchase value seen so far for that user (null before the first).
    // One user_id window exchange; the frame is running, so state per key
    // is a single value — at 100 TB this is the cheapest window shape there
    // is. The DuckDB twin uses its native IGNORE NULLS — two independent
    // implementations of the same SQL-standard semantics.
    "window_fill_forward" -> ((s, dir) => {
      val run = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("reading",
          when(col("event_type") === "purchase", col("value")))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("reading"),
          last(col("reading"), ignoreNulls = true).over(run).as("filled"))
        .orderBy("user_id", "event_id")
    }),

    // E16d: EXACT rolling median over a 5-row trailing frame — the
    // robust-smoothing twin of `window_running`'s moving mean (medians
    // shrug off the value spikes `event_anomaly` hunts). Spark's
    // `percentile` and DuckDB's `quantile_cont` share the SQL-standard
    // continuous-quantile definition (rank = p·(n−1), linear
    // interpolation), so interior 5-row frames take the exact middle
    // element and the ≤4-row frames at partition heads interpolate the
    // same midpoint on both engines; round(6) absorbs the one
    // interpolation ulp. Same scale shape as every running frame: ONE
    // user_id exchange, O(frame) state per row.
    "window_rolling_median" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-4, Window.currentRow)
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          round(expr("percentile(value, 0.5)")
            .over(w), 6).as("med5"))
        .orderBy("user_id", "event_id")
    }),

    // E17: multi-key sort with explicit null placement.
    "sort_multi" -> ((s, dir) => {
      Tables.orders(s, dir)
        .select(col("o_orderkey"),
          nullif(col("o_orderstatus"), lit("F")).as("status_or_null"),
          col("o_totalprice"))
        .orderBy(col("status_or_null").desc_nulls_first,
          col("o_totalprice").asc, col("o_orderkey").asc)
    }),

    // E18: global top-k (TakeOrderedAndProject — no full sort at scale).
    "topk" -> ((s, dir) => {
      Tables.orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    }),

    // E19: top-k per group via ranking window.
    "topk_per_group" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w).cast(LongType))
        .filter(col("rn") <= 3)
        .select("o_orderstatus", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_orderstatus", "rn")
    }),

    // E20: union all + aggregate (map-side combine across both inputs).
    "set_union" -> ((s, dir) => {
      val c = Tables.customer(s, dir).select(col("c_nationkey").cast(IntegerType).as("nationkey"))
      val sup = Tables.supplier(s, dir).select(col("s_nationkey").cast(IntegerType).as("nationkey"))
      c.unionAll(sup).groupBy("nationkey").agg(count(lit(1)).as("n")).orderBy("nationkey")
    }),

    // E21: intersect + except, flagged in one result.
    "set_intersect_except" -> ((s, dir) => {
      val c = Tables.customer(s, dir).select(col("c_nationkey").cast(IntegerType).as("nationkey"))
      val sup = Tables.supplier(s, dir).select(col("s_nationkey").cast(IntegerType).as("nationkey"))
      val both = c.intersect(sup).select(col("nationkey"), lit("both").as("kind"))
      val onlyC = c.except(sup).select(col("nationkey"), lit("customer_only").as("kind"))
      both.unionAll(onlyC).orderBy("nationkey", "kind")
    }),

    // E21b: multiset set-ops — INTERSECT ALL / EXCEPT ALL keep duplicate
    // cardinality (how many F-orders does each repeat customer have), which
    // the distinct variants above erase. Spark plans both as aggregations
    // over a replicated count column — one exchange each, no join.
    "set_ops_all" -> ((s, dir) => {
      val all = Tables.orders(s, dir).select(col("o_custkey").as("custkey"))
      val done = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("custkey"))
      val inter = all.intersectAll(done)
        .select(col("custkey"), lit("in_both").as("kind"))
      val exc = all.exceptAll(done)
        .select(col("custkey"), lit("beyond_done").as("kind"))
      inter.unionAll(exc).orderBy("custkey", "kind")
    }),

    // E2b: null-safe equi join (<=>) — NULL keys match each other instead
    // of disappearing, so the unknown-status bucket survives the join. The
    // DuckDB twin is IS NOT DISTINCT FROM; both plan as a hash join on the
    // null-safe key, not a filter-after-outer-join.
    "join_null_safe" -> ((s, dir) => {
      import s.implicits._
      val labels = Seq(("F", "finished"), ("O", "open"),
        (null.asInstanceOf[String], "unknown")).toDF("status", "label")
      Tables.orders(s, dir)
        .withColumn("status_or_null", nullif(col("o_orderstatus"), lit("P")))
        .join(broadcast(labels), col("status_or_null") <=> col("status"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          sum(dec(col("o_totalprice"))).cast(DoubleType).as("total"))
        .orderBy("label")
    }),

    // E14b: distribution window functions — ntile/percent_rank/cume_dist.
    // The window orders by (value, event_id) so every row is its own peer
    // group: rank arithmetic is then exact integer division on both
    // engines, no ties to flap and nothing to round.
    // r11 (guide §2.5 — VERDICT r10 ask #5): event_type has ~5 values, so
    // the single window sorted a fifth of the corpus on ONE reducer at any
    // scale. RANGE-BUCKETED two-level rank (BucketRank): bucket by value
    // (pure + monotone in the ordering prefix ⇒ tied values never split
    // and bucket order refines (value, event_id) order), rank locally
    // within (type, bucket), add the lower buckets' row-count offset.
    // Every row being its own peer group (unique event_id tie-break — the
    // premise this key already documents) makes all three functions pure
    // arithmetic in (rn, n): pr = (rn−1)/(n−1) (0.0 when n = 1) and
    // cd = rn/n are Spark's own PercentRank/CumeDist evaluate expressions,
    // ntile(4) is NTile's bucket algebra (BucketRank.ntileOf). Pinned
    // bit-equal against the single-window form in R11RewriteEquivalenceSpec.
    "window_distribution" -> ((s, dir) => {
      val nb = BucketRank.nBuckets(s)
      val e = Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), col("value"))
      val mm = e.groupBy("event_type")
        .agg(min(BucketRank.finite(col("value"))).as("mn"),
          max(BucketRank.finite(col("value"))).as("mx"),
          count(lit(1)).as("n"))
      val b = BucketRank.joinGroup(e, mm, "event_type")
        .withColumn("bkt", BucketRank.bucketOf(col("value"), col("mn"), col("mx"), nb))
      val wB = Window.partitionBy("event_type").orderBy("bkt")
      val off = b.groupBy("event_type", "bkt").agg(count(lit(1)).as("bc"))
        .withColumn("off", sum("bc").over(wB) - col("bc"))
        .select(col("event_type").as("o_et"), col("bkt").as("o_bkt"), col("off"))
      val wL = Window.partitionBy("event_type", "bkt").orderBy("value", "event_id")
      b.join(broadcast(off),
          col("event_type") <=> col("o_et") && col("bkt") === col("o_bkt"))
        .withColumn("rn", col("off") + row_number().over(wL))
        .select(col("event_type"), col("event_id"), col("value"),
          BucketRank.ntileOf(col("rn"), col("n"), 4).as("quartile"),
          when(col("n") > 1,
            (col("rn") - 1).cast(DoubleType) / (col("n") - 1).cast(DoubleType))
            .otherwise(lit(0.0)).as("pr"),
          (col("rn").cast(DoubleType) / col("n").cast(DoubleType)).as("cd"))
        .orderBy("event_type", "event_id")
    }),

    // E22b: unpivot/melt — wide measure columns to (measure, value) rows,
    // the inverse of pivot. Spark plans Expand (one pass, no join); the
    // DuckDB twin is the equivalent UNION ALL stack. Filtered to a tenth of
    // the orders so the total-order output contract doesn't dominate cost.
    "unpivot" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity"), col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
            col("l_suppkey")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "measure", "val")
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "measure")
    }),

    // E22: pivot — fixed value list so the output schema is static (at scale
    // an unbounded pivot would force a driver-side distinct first).
    "pivot" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(dec(col("l_quantity"))).cast(DoubleType))
        .orderBy("l_returnflag")
    }))

  /** DuckDB oracle of the backward as-of keys (`join_asof`,
    * `join_asof_plan`, `join_asof_exec`, SqlOps' `sql_asof`): the latest
    * same-user click at or before each purchase, ties to the max click
    * event_id.
    */
  private[operators] val asofBackwardOracle: String =
    """SELECT p_id, p_user, p_ts, asof_click_ts FROM (
      |  SELECT p.event_id AS p_id, p.user_id AS p_user, p.ts AS p_ts,
      |         c.ts AS asof_click_ts,
      |         row_number() OVER (PARTITION BY p.event_id
      |                            ORDER BY c.ts DESC, c.event_id DESC) AS rn
      |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |    ON p.user_id = c.user_id AND c.ts <= p.ts
      |) WHERE rn = 1 ORDER BY p_id""".stripMargin

  def oracle: Map[String, String] = Map(
    "filter_pred" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
        |FROM orders
        |WHERE o_orderstatus IN ('F','O')
        |  AND o_totalprice BETWEEN 1000.0 AND 200000.0
        |  AND o_orderpriority LIKE '1%'
        |  AND o_orderdate IS NOT NULL
        |  AND NOT (o_custkey % 7 = 0)
        |ORDER BY o_orderkey""".stripMargin,
    "join_inner" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, o_custkey, o_orderstatus,
        |       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin,
    "join_broadcast" ->
      """SELECT l_orderkey, l_linenumber, l_suppkey, p_partkey, p_name, p_brand
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand = 'Brand#3'
        |ORDER BY l_orderkey, l_linenumber, p_partkey, l_suppkey""".stripMargin,
    "join_outer" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |       CAST(COALESCE(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "join_semi_anti" ->
      """SELECT c_custkey, 'has_orders' AS kind FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, 'no_orders' AS kind FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey, kind""".stripMargin,
    "join_range" ->
      """SELECT p_partkey, p_name, band
        |FROM part
        |JOIN (VALUES ('low', 0.0, 500.0), ('mid', 500.0, 1200.0), ('high', 1200.0, 1e9))
        |     AS bands(band, lo, hi)
        |  ON p_retailprice >= lo AND p_retailprice < hi
        |ORDER BY p_partkey""".stripMargin,
    "join_asof" -> asofBackwardOracle,
    "join_asof_plan" -> asofBackwardOracle,
    "join_asof_exec" -> asofBackwardOracle,
    "join_asof_tolerance" ->
      """SELECT p_id, p_user, p_ts,
        |       CASE WHEN asof_click_ts IS NOT NULL
        |              AND p_ts <= asof_click_ts + INTERVAL 2 HOUR
        |            THEN asof_click_ts END AS tol_click_ts
        |FROM (
        |  SELECT p.event_id AS p_id, p.user_id AS p_user, p.ts AS p_ts,
        |         c.ts AS asof_click_ts,
        |         row_number() OVER (PARTITION BY p.event_id
        |                            ORDER BY c.ts DESC, c.event_id DESC) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |    ON p.user_id = c.user_id AND c.ts <= p.ts
        |) WHERE rn = 1 ORDER BY p_id""".stripMargin,
    "join_asof_nearest" ->
      """SELECT p_id, p_user, p_ts, nearest_click_ts,
        |       CASE WHEN nearest_click_ts IS NULL THEN NULL
        |            WHEN nearest_click_ts <= p_ts THEN 'back'
        |            ELSE 'fwd' END AS direction
        |FROM (
        |  SELECT p.event_id AS p_id, p.user_id AS p_user, p.ts AS p_ts,
        |         c.ts AS nearest_click_ts,
        |         row_number() OVER (PARTITION BY p.event_id
        |                            ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)),
        |                                     c.ts ASC, c.event_id ASC) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |    ON c.user_id = p.user_id
        |) WHERE rn = 1 ORDER BY p_id""".stripMargin,
    "join_asof_forward" ->
      """SELECT c_id, c_user, c_ts, next_purchase_ts FROM (
        |  SELECT c.event_id AS c_id, c.user_id AS c_user, c.ts AS c_ts,
        |         p.ts AS next_purchase_ts,
        |         row_number() OVER (PARTITION BY c.event_id
        |                            ORDER BY p.ts ASC, p.event_id ASC) AS rn
        |  FROM (SELECT * FROM events WHERE event_type = 'click') c
        |  LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |    ON c.user_id = p.user_id AND p.ts >= c.ts
        |) WHERE rn = 1 ORDER BY c_id""".stripMargin,
    "join_cross" ->
      """SELECT r_regionkey, r_name, n_nationkey, n_name
        |FROM region CROSS JOIN nation
        |ORDER BY r_regionkey, n_nationkey""".stripMargin,
    "market_basket_lift" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |pc AS (SELECT pk, count(*) AS c FROM li GROUP BY 1),
        |n AS (SELECT count(DISTINCT ok) AS n_orders FROM li),
        |pairs AS (
        |  SELECT a.pk AS p1, b.pk AS p2, count(*) AS co
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT p1, p2, co, c1.c AS c1, c2.c AS c2,
        |       round(CAST(co AS DOUBLE) / n_orders, 6) AS support,
        |       round(CAST(co AS DOUBLE) / c1.c, 6) AS confidence,
        |       round(CAST(co AS DOUBLE) * n_orders / (c1.c * c2.c), 6) AS lift
        |FROM pairs
        |JOIN pc c1 ON c1.pk = p1
        |JOIN pc c2 ON c2.pk = p2
        |CROSS JOIN n
        |ORDER BY p1, p2""".stripMargin,
    "join_bucketed" ->
      """SELECT o_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, o_totalprice
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |ORDER BY o_orderkey, l_linenumber, l_partkey, l_suppkey""".stripMargin,
    "join_skew_salted" ->
      // the salted (event_type, salt) join must equal the plain keyed join
      """WITH d AS (
        |  SELECT event_type, count(*) AS type_n,
        |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value
        |  FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type, e.value, d.type_n, d.avg_value
        |FROM events e JOIN d USING (event_type)
        |ORDER BY event_id""".stripMargin,
    "agg_group" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "agg_skew_salted" ->
      // the salted two-phase plan must equal the direct aggregate
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_quantile" ->
      // quantile_cont = linear interpolation, the same formula Spark's
      // exact percentile uses
      """SELECT event_type,
        |       round(quantile_cont(value, 0.5), 4) AS p50,
        |       round(quantile_cont(value, 0.95), 4) AS p95,
        |       round(quantile_cont(value, 0.99), 4) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // exact-regime twin: the element at 1-indexed rank ceil(p·n) over the
    // splitHash-subsampled per-group population (see the key comment; m
    // derivation is the theta twin's — IEEE log2 exact at the only
    // boundaries that matter, p·n fractional parts ≥ 0.01 so ceil agrees)
    "agg_quantile_capped" ->
      """WITH m AS (
        |  SELECT CASE WHEN q <= 1 THEN 1
        |              ELSE CAST(power(2, ceil(log2(q))) AS BIGINT) END AS m
        |  FROM (SELECT (count(*) + 1999) // 2000 AS q FROM events)),
        |f AS (
        |  SELECT event_type, value,
        |         row_number() OVER (PARTITION BY event_type
        |                            ORDER BY value) AS rk,
        |         count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events, m
        |  WHERE ((event_id % 2147483648) * 2654435761) % m.m = 0)
        |SELECT event_type,
        |       max(CASE WHEN rk = CAST(ceil(CAST(0.5 AS DOUBLE) * n) AS BIGINT)
        |                THEN value END) AS p50,
        |       max(CASE WHEN rk = CAST(ceil(CAST(0.95 AS DOUBLE) * n) AS BIGINT)
        |                THEN value END) AS p95,
        |       max(CASE WHEN rk = CAST(ceil(CAST(0.99 AS DOUBLE) * n) AS BIGINT)
        |                THEN value END) AS p99
        |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin,
    // bound twins: the exact arm is recomputed cross-engine; the estimate
    // arm's verdict is the documented error band (see the key comments)
    "agg_approx_distinct_bound" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
        |       true AS within_3rsd
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_hll_merge_bound" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |       true AS merged_within_bound
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // exact-domain twin: collision-free cells over the fixed enum make the
    // CMS estimates equal the true counts at any scale (see the key comment)
    "agg_cms_exact_domain" ->
      """SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS est_n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "agg_grouping_id" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
        |       COALESCE(l_linestatus, 'ALL') AS status,
        |       count(*) AS n,
        |       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
        |       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
        |       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
        |         AS gid
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY gid, flag, status""".stripMargin,
    "agg_quantiles_multi" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |       round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
        |       round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
        |       count(DISTINCT l_partkey) AS n_part, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_uniq_up_to" ->
      """SELECT event_type,
        |       LEAST(count(DISTINCT event_id % 37), 51) AS u_small,
        |       LEAST(count(DISTINCT user_id), 51) AS u_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
        |       COALESCE(l_linestatus, 'ALL') AS status,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin,
    "agg_approx_topk_weighted" ->
      // exact because distinct event types fit the sketch capacity
      """WITH c AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type,
        |         CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |              AS BIGINT) AS w
        |  FROM events GROUP BY 1, 2)
        |SELECT day, CAST(rn - 1 AS BIGINT) AS rank, event_type,
        |       w AS w_cents, 0::BIGINT AS err
        |FROM (SELECT day, event_type, w,
        |             row_number() OVER (PARTITION BY day
        |                                ORDER BY w DESC, event_type) AS rn
        |      FROM c)
        |WHERE rn <= 3 ORDER BY day, rank""".stripMargin,
    "agg_approx_topk" ->
      // exact because distinct event types fit the sketch capacity
      """WITH c AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT day, CAST(rn - 1 AS BIGINT) AS rank, event_type, n,
        |       0::BIGINT AS err
        |FROM (SELECT day, event_type, n,
        |             row_number() OVER (PARTITION BY day
        |                                ORDER BY n DESC, event_type) AS rn
        |      FROM c)
        |WHERE rn <= 3 ORDER BY day, rank""".stripMargin,
    "agg_collect" ->
      """SELECT user_id,
        |       array_to_string(list(event_id ORDER BY event_id), ',') AS ids_csv,
        |       count(*) AS n
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "agg_sum_map" ->
      """WITH c AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT day,
        |       '{' || string_agg('"' || event_type || '":' ||
        |                CAST(n AS VARCHAR), ',' ORDER BY event_type) || '}'
        |         AS counts_json,
        |       CAST(sum(n) AS BIGINT) AS n_events
        |FROM c GROUP BY day ORDER BY day""".stripMargin,
    "agg_minmax_map" ->
      """WITH c AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type,
        |         min(CAST(round(value * 100) AS BIGINT)) AS mn,
        |         max(CAST(round(value * 100) AS BIGINT)) AS mx
        |  FROM events GROUP BY 1, 2)
        |SELECT day,
        |       '{' || string_agg('"' || event_type || '":' ||
        |                CAST(mn AS VARCHAR), ',' ORDER BY event_type) || '}'
        |         AS min_cents_json,
        |       '{' || string_agg('"' || event_type || '":' ||
        |                CAST(mx AS VARCHAR), ',' ORDER BY event_type) || '}'
        |         AS max_cents_json
        |FROM c GROUP BY day ORDER BY day""".stripMargin,
    "agg_grouping_sets" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
        |       COALESCE(l_linestatus, 'ALL') AS status,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY flag, status""".stripMargin,
    "agg_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS flag,
        |       COALESCE(l_linestatus, 'ALL') AS status,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin,
    "agg_conditional" ->
      """SELECT l_linestatus,
        |       CAST(sum(CASE WHEN l_returnflag = 'R'
        |                     THEN CAST(l_extendedprice AS DECIMAL(18,2))
        |                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS returned_price,
        |       count(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_discounted,
        |       count(*) AS n
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "window_rank" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice, rn, rnk, drnk, quartile FROM (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |         row_number() OVER w AS rn, rank() OVER w AS rnk,
        |         dense_rank() OVER w AS drnk, ntile(4) OVER w AS quartile
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
        |) WHERE rn <= 50 ORDER BY o_orderstatus, rn""".stripMargin,
    "window_lag_lead" ->
      """SELECT user_id, event_id, value,
        |       lag(value, 1) OVER w AS prev_value,
        |       lead(value, 1) OVER w AS next_value,
        |       first_value(event_id) OVER wa AS first_event,
        |       last_value(event_id) OVER wa AS last_event
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
        |       wa AS (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY user_id, event_id""".stripMargin,
    "window_running" ->
      """SELECT user_id, event_id,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_sum,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum3
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "window_time_range" ->
      """SELECT user_id, event_id, ts,
        |       count(*) OVER w AS n_trailing_1h,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_trailing_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |             RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
    "window_rolling_median" ->
      """SELECT user_id, event_id,
        |       round(quantile_cont(value, 0.5) OVER (
        |             PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS med5
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "window_fill_forward" ->
      """SELECT user_id, event_id, event_type,
        |       CASE WHEN event_type = 'purchase' THEN value END AS reading,
        |       last_value(CASE WHEN event_type = 'purchase' THEN value END
        |                  IGNORE NULLS) OVER (
        |         PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "agg_incremental_merge" ->
      // merged daily partials must equal the direct full aggregate
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "sort_multi" ->
      """SELECT o_orderkey, NULLIF(o_orderstatus, 'F') AS status_or_null, o_totalprice
        |FROM orders
        |ORDER BY status_or_null DESC NULLS FIRST, o_totalprice ASC, o_orderkey ASC""".stripMargin,
    "topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "topk_per_group" ->
      """SELECT o_orderstatus, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderstatus, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_orderstatus
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders
        |) WHERE rn <= 3 ORDER BY o_orderstatus, rn""".stripMargin,
    "set_union" ->
      """SELECT nationkey, count(*) AS n FROM (
        |  SELECT CAST(c_nationkey AS INTEGER) AS nationkey FROM customer
        |  UNION ALL
        |  SELECT CAST(s_nationkey AS INTEGER) AS nationkey FROM supplier
        |) GROUP BY nationkey ORDER BY nationkey""".stripMargin,
    "set_intersect_except" ->
      """SELECT nationkey, 'both' AS kind FROM (
        |  SELECT CAST(c_nationkey AS INTEGER) AS nationkey FROM customer
        |  INTERSECT
        |  SELECT CAST(s_nationkey AS INTEGER) AS nationkey FROM supplier)
        |UNION ALL
        |SELECT nationkey, 'customer_only' AS kind FROM (
        |  SELECT CAST(c_nationkey AS INTEGER) AS nationkey FROM customer
        |  EXCEPT
        |  SELECT CAST(s_nationkey AS INTEGER) AS nationkey FROM supplier)
        |ORDER BY nationkey, kind""".stripMargin,
    "pivot" ->
      """SELECT l_returnflag,
        |       CAST(sum(CASE WHEN l_linestatus = 'F'
        |                     THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "F",
        |       CAST(sum(CASE WHEN l_linestatus = 'O'
        |                     THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS "O"
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "unpivot" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, measure, val FROM (
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |         'l_quantity' AS measure, l_quantity AS val
        |  FROM lineitem WHERE l_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |         'l_discount', l_discount
        |  FROM lineitem WHERE l_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |         'l_tax', l_tax
        |  FROM lineitem WHERE l_orderkey % 10 = 0)
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, measure""".stripMargin,
    "agg_argmax" ->
      // composite key = value*1e8 + event_id: same IEEE arithmetic as the
      // Spark side, so the tie-winner is identical (see the query comment)
      """SELECT event_type,
        |       arg_max(event_id, value * 100000000 + event_id) AS max_value_event,
        |       arg_min(event_id, value * 100000000 + event_id) AS min_value_event,
        |       max(value) AS max_value, min(value) AS min_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // avg_value rounds in integer space — HUGEINT rational half-up, the
    // event_interpolate discipline (see the query comment)
    "agg_stats" ->
      """SELECT event_type, n,
        |       CAST((2 * sc * 10000 + n) // (2 * n) AS DOUBLE) / 1000000
        |         AS avg_value,
        |       stddev_value, varp_value, corr_value_user
        |FROM (
        |  SELECT event_type, count(*) AS n,
        |         CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS HUGEINT) AS sc,
        |         round(stddev_samp(value), 6) AS stddev_value,
        |         round(var_pop(value), 6) AS varp_value,
        |         round(corr(value, CAST(user_id AS DOUBLE)), 6) AS corr_value_user
        |  FROM events GROUP BY event_type)
        |ORDER BY event_type""".stripMargin,
    "agg_bitwise" ->
      """SELECT event_type,
        |       bit_and(event_id) AS ids_and,
        |       bit_or(event_id) AS ids_or,
        |       bit_xor(event_id) AS ids_xor
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "set_ops_all" ->
      """SELECT custkey, 'in_both' AS kind FROM (
        |  SELECT o_custkey AS custkey FROM orders
        |  INTERSECT ALL
        |  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F')
        |UNION ALL
        |SELECT custkey, 'beyond_done' AS kind FROM (
        |  SELECT o_custkey AS custkey FROM orders
        |  EXCEPT ALL
        |  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F')
        |ORDER BY custkey, kind""".stripMargin,
    "join_null_safe" ->
      """SELECT label, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM (SELECT *, NULLIF(o_orderstatus, 'P') AS status_or_null FROM orders)
        |JOIN (VALUES ('F', 'finished'), ('O', 'open'), (NULL, 'unknown'))
        |     AS labels(status, label)
        |  ON status_or_null IS NOT DISTINCT FROM status
        |GROUP BY label ORDER BY label""".stripMargin,
    "agg_mode" ->
      // scaled arg-max instead of mode(): tie-deterministic in both engines
      """WITH c AS (
        |  SELECT event_type, CAST(props->>'$.k' AS BIGINT) AS k, count(*) AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type,
        |       arg_max(k, cnt * 1000 + k) AS mode_k,
        |       max(cnt) AS mode_n
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_histogram" ->
      """SELECT CAST(floor(value / 50) + 1 AS BIGINT) AS bucket,
        |       floor(value / 50) * 50 AS lo,
        |       (floor(value / 50) + 1) * 50 AS hi,
        |       count(*) AS n,
        |       round(min(value), 2) AS lo_seen,
        |       round(max(value), 2) AS hi_seen
        |FROM events GROUP BY 1, 2, 3 ORDER BY bucket""".stripMargin,
    "agg_listagg" ->
      """SELECT user_id, count(*) AS n,
        |       string_agg(event_type, ',' ORDER BY event_type) AS journey
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "window_distribution" ->
      """SELECT event_type, event_id, value,
        |       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |       percent_rank() OVER w AS pr,
        |       cume_dist() OVER w AS cd
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
        |ORDER BY event_type, event_id""".stripMargin)
}
