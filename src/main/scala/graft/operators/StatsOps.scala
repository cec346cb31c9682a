package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Statistical aggregate surface — the ClickHouse analytics aggregates the
  * reference's users reach for once events are archived (`entropy`,
  * `simpleLinearRegression`, covariance/product folds; ref: README.md:4-17
  * positions the archive as the substrate for exactly this kind of
  * distribution analysis).
  *
  * Scale notes (100 TB discipline):
  *  - every key is a plain hash aggregate: map-side partials collapse each
  *    partition's contribution before the single keyed exchange;
  *  - entropy is computed from mergeable sums only (`Σn`, `Σ n·log2 n` →
  *    `H = log2 T − S/T`), never from a per-group probability vector — the
  *    DuckDB twin uses the built-in `entropy()` so the algebraic
  *    reformulation is cross-checked against an independent implementation;
  *  - the product aggregate is phrased as `exp(Σ ln x)` — the sum has
  *    commutative, mergeable partials, while a literal multiplicative fold
  *    has no map-side combine in Spark;
  *  - cross-engine float ulps are absorbed by `round(6)` on every moment
  *    (same discipline as `agg_stats`, SURVEY §7.4).
  */
object StatsOps {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Shannon entropy (bits) of the daily event-type mix — the classic
    // "did the traffic composition shift?" monitor. H = log2(T) - Σn·log2(n)/T
    // needs only two mergeable sums per day.
    "agg_entropy" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .groupBy("day")
        .agg(
          sum("n").as("n_events"),
          sum(col("n").cast(DoubleType) * log2(col("n"))).as("s"))
        .select(col("day"), col("n_events"),
          Tables.nz(round(log2(col("n_events")) - col("s") / col("n_events"), 6))
            .as("entropy_bits"))
        .orderBy("day")
    }),

    // Ordinary-least-squares family per group (ClickHouse
    // `simpleLinearRegression` analog): slope/intercept/R² of extendedprice
    // on quantity, plus both covariance flavors. One aggregate exchange.
    "agg_regression" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          regr_count(col("l_extendedprice"), col("l_quantity"))
            .cast(LongType).as("n_pairs"),
          round(regr_slope(col("l_extendedprice"), col("l_quantity")), 6)
            .as("slope"),
          round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 6)
            .as("intercept"),
          round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6)
            .as("r2"),
          round(covar_samp(col("l_extendedprice"), col("l_quantity")), 6)
            .as("covar_s"),
          round(covar_pop(col("l_extendedprice"), col("l_quantity")), 6)
            .as("covar_p"))
        .orderBy("l_returnflag")
    }),

    // Stratified deterministic downsampling with inverse-propensity
    // weights — the class-rebalancing step of an event training pipeline:
    // rare classes kept whole, dominant classes thinned, each surviving row
    // carrying the weight that makes weighted aggregates unbiased.
    // Membership is a pure multiplicative hash of event_id (same discipline
    // as split_holdout: never rand(), stable across runs/cluster sizes/row
    // order) so the sample is reproducible and map-only — no shuffle.
    "sample_stratified" -> ((s, dir) => {
      val rate = when(col("event_type").isin("purchase", "signup"), 100L)
        .when(col("event_type") === "error", 50L)
        .when(col("event_type") === "click", 25L)
        .otherwise(10L)
      Tables.events(s, dir)
        .withColumn("rate", rate)
        .filter(Tables.splitHash(col("event_id"), 100L) < col("rate"))
        .select(col("event_id"), col("event_type"),
          round(lit(100.0) / col("rate"), 6).as("weight"))
        .orderBy("event_id")
    }),

    // Bottom-k-by-hash uniform sample per group — the MERGEABLE fixed-size
    // sample (a KMV-style bottom-k sketch over a deterministic
    // multiplicative hash): union two samples, keep the k smallest hashes,
    // and you have exactly the sample of the union. That merge algebra is
    // what a reservoir built on rand() can't give and what makes this the
    // 100-TB per-class exemplar draw: map-side partial top-k per
    // partition, one narrow (group, hash) exchange, never a global sort.
    // The hash is the repo's split_holdout/sample_stratified discipline
    // (Knuth multiplicative on event_id — stable across runs, cluster
    // sizes, and row order; event_id ≤ ~1e7 keeps the product < 2^63 on
    // both engines). Here: the 8 exemplar events of each event_type.
    "sample_bottomk" -> ((s, dir) => {
      val w = Window.partitionBy("event_type")
        .orderBy(Tables.splitHash(col("event_id"), 1000000007L),
          col("event_id"))
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"), col("user_id"),
          row_number().over(w).cast(LongType).as("rk"))
        .filter(col("rk") <= 8)
        .orderBy("event_type", "rk")
    }),

    // Higher moments (ClickHouse `skewPop`/`kurtPop` analogs) from raw
    // power sums. Built-in skewness()/kurtosis() differ between engines
    // (population vs bias-corrected sample), so both sides compute the
    // SAME algebra from Σx..Σx⁴ — and because l_quantity is integer-valued
    // ≤ 50, every power sum stays below 2^53 and is EXACT in doubles,
    // order-independent, mergeable map-side. The only inexact steps are
    // the final divisions, identical IEEE ops on identical inputs.
    "agg_moments" -> ((s, dir) => {
      val x = col("l_quantity")
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(x).as("s1"), sum(x * x).as("s2"),
          sum(x * x * x).as("s3"), sum(x * x * x * x).as("s4"))
        .withColumn("mean", col("s1") / col("n"))
        .withColumn("m2",
          col("s2") / col("n") - col("mean") * col("mean"))
        .withColumn("m3",
          col("s3") / col("n") - lit(3.0) * col("mean") * (col("s2") / col("n"))
            + lit(2.0) * col("mean") * col("mean") * col("mean"))
        .withColumn("m4",
          col("s4") / col("n") - lit(4.0) * col("mean") * (col("s3") / col("n"))
            + lit(6.0) * col("mean") * col("mean") * (col("s2") / col("n"))
            - lit(3.0) * col("mean") * col("mean") * col("mean") * col("mean"))
        .select(col("l_returnflag"), col("n"),
          round(col("mean"), 6).as("mean"),
          round(col("m2"), 6).as("var_pop"),
          Tables.nz(round(col("m3") / (col("m2") * sqrt(col("m2"))), 6))
            .as("skew_pop"),
          Tables.nz(round(col("m4") / (col("m2") * col("m2")) - lit(3.0), 6))
            .as("kurt_excess"))
        .orderBy("l_returnflag")
    }),

    // Weighted median (ClickHouse `quantileExactWeighted` analog) — the
    // quantile a weighted sample needs (e.g. the inverse-propensity
    // weights `sample_stratified` emits). Entirely INTEGER arithmetic:
    // quantities cast to long, the crossing test is `2·cum ≥ tot` (no
    // 0.5·total float), so the result is bit-exact on any engine. Ties in
    // the order-by value cannot flip the answer: the crossing always lands
    // inside the tied block, whose value is the output either way. One
    // window exchange on the group key, then a tiny min-per-group.
    // r11 (guide §2.5 — VERDICT r10 ask #9; r10's broadcast-total variant
    // was A/B'd and reverted, this is the different technique it asked
    // for): the two windows sorted a third of the table per flag on ONE
    // reducer. VALUE-DOMAIN BISECTION (BucketRank): per-(flag, price-
    // bucket) weight sums locate the CROSSING bucket — the first whose
    // cumulative weight reaches half the total — and only its rows (≈1/nb
    // of the data) are sorted to find the crossing row. Exactness: the
    // bucket id is a pure monotone function of the price, so (a) the
    // qualifying row with the minimum price lies in the crossing bucket
    // (all later buckets hold ≥ prices, all earlier buckets end below
    // half-weight), and (b) a tied price block never splits across
    // buckets, so the original tie argument ("the crossing lands inside
    // the tied block, whose value is the output either way") carries over
    // verbatim. Integer arithmetic throughout as before (2·cum ≥ tot).
    // Pinned bit-equal against the window form in R11RewriteEquivalenceSpec.
    "agg_weighted_median" -> ((s, dir) => {
      val nb = BucketRank.nBuckets(s)
      val base = Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_extendedprice"),
          // explicit floor: a bare double→long cast truncates in Spark but
          // ROUNDS in DuckDB — floor() pins one semantics on both engines
          // (no-op here: the fixture quantities are integer-valued)
          floor(col("l_quantity")).as("w"))
      val mm = base.groupBy("l_returnflag")
        .agg(min(BucketRank.finite(col("l_extendedprice"))).as("mn"),
          max(BucketRank.finite(col("l_extendedprice"))).as("mx"))
      val b = BucketRank.joinGroup(base, mm, "l_returnflag")
        .withColumn("bkt",
          BucketRank.bucketOf(col("l_extendedprice"), col("mn"), col("mx"), nb))
        .select(col("l_returnflag"), col("l_extendedprice"), col("w"), col("bkt"))
      val wB = Window.partitionBy("l_returnflag").orderBy("bkt")
      val stats = b.groupBy("l_returnflag", "bkt").agg(sum("w").as("bw"))
        .withColumn("cumw", sum("bw").over(wB))
        .withColumn("tot", sum("bw").over(Window.partitionBy("l_returnflag")))
      // NULL prices sort first and carry weight, but min() ignores them: when
      // their bucket crosses, the answer is the first priced bucket's
      // minimum (every row there qualifies), so prefer priced buckets
      val crossing = stats.filter(lit(2L) * col("cumw") >= col("tot"))
        .groupBy("l_returnflag")
        .agg(min_by(
          struct(col("bkt"), (col("cumw") - col("bw")).as("off"), col("tot")),
          struct(col("bkt") === BucketRank.NullBucket, col("bkt"))).as("cb"))
        .select(col("l_returnflag").as("c_rf"), col("cb.bkt").as("c_bkt"),
          col("cb.off").as("off"), col("cb.tot").as("tot"))
      val cum = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      b.join(broadcast(crossing),
          col("l_returnflag") <=> col("c_rf") && col("bkt") === col("c_bkt"))
        .withColumn("cum", col("off") + sum("w").over(cum))
        .filter(lit(2L) * col("cum") >= col("tot"))
        .groupBy("l_returnflag")
        .agg(max("tot").as("total_w"),
          min("l_extendedprice").as("wmedian"))
        .orderBy("l_returnflag")
    }),

    // Declarative data-quality constraint check (the dbt-tests / Deequ
    // surface — the QA gate every warehouse load and every training-data
    // refresh runs before publishing): one row PER CONSTRAINT with its
    // violation count, so the downstream gate is `max(violations) == 0`.
    // Five constraint families over the TPC-H tables: primary-key
    // uniqueness (count − distinct), referential integrity (anti-join
    // counts, lineitem→orders and orders→customer), non-null, value-range,
    // and an accepted-values set check. Scale shape: each check is one
    // aggregate or one equality anti-join on the FK — no constraint ever
    // scans another's table, and the union of 1-row results is free.
    // Constraint names are the sort key, so output order is stable.
    "qa_constraints" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val ord = Tables.orders(s, dir)
      val cust = Tables.customer(s, dir)
      def one(name: String, v: org.apache.spark.sql.DataFrame) =
        v.select(lit(name).as("constraint_name"),
          col("violations").cast(LongType).as("violations"))
      val pkDup = one("orders_pk_unique",
        ord.agg((count(lit(1)) - countDistinct(col("o_orderkey"))).as("violations")))
      val fkLi = one("lineitem_orderkey_in_orders",
        li.join(ord.select(col("o_orderkey").as("l_orderkey")),
            Seq("l_orderkey"), "left_anti")
          .agg(count(lit(1)).as("violations")))
      val fkOrd = one("orders_custkey_in_customer",
        ord.join(cust.select(col("c_custkey").as("o_custkey")),
            Seq("o_custkey"), "left_anti")
          .agg(count(lit(1)).as("violations")))
      val nn = one("lineitem_shipdate_not_null",
        li.agg(count(when(col("l_shipdate").isNull, 1)).as("violations")))
      val rng = one("lineitem_discount_in_range",
        li.agg(count(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1))
          .as("violations")))
      val accepted = one("lineitem_returnflag_accepted",
        li.agg(count(when(!col("l_returnflag").isin("A", "N", "R"), 1))
          .as("violations")))
      pkDup.unionByName(fkLi).unionByName(fkOrd).unionByName(nn)
        .unionByName(rng).unionByName(accepted)
        .orderBy("constraint_name")
    }),

    // One-pass table profiler — the first query anyone runs on an unknown
    // 100 TB archive: per-column row/non-null/distinct counts and min/max.
    // ONE scan: all 17 aggregates run in a single groupBy-less aggregate
    // (the multi-distinct planning uses one Expand — rows × #distinct-cols
    // before the partial aggregate collapses them map-side), then the
    // 1-row × 17-col result is unpivoted driver-free with stack(). At
    // scale the exact distincts swap for approx_count_distinct (the
    // `agg_approx_distinct` key demonstrates that path).
    "profile_columns" -> ((s, dir) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      // r10 optimization (guide §2.3): the single 17-aggregate form planned
      // FOUR distinct columns in one aggregate, which Spark implements as
      // Expand × (#distinct-cols + 1) — every row replicated 5× with 4
      // normalized double group keys, before any partial aggregation. One
      // independent pass per column keeps each aggregate single-distinct
      // (no Expand at all: partial-agg keyed by the column, then merge),
      // scans only that column, and the four 1-row branches run
      // concurrently under the same action. Values are identical: each
      // branch computes the same count/distinct/min/max over the same rows.
      val per = cols.map { c =>
        Tables.lineitem(s, dir)
          .agg(count(lit(1)).as("n_rows"),
            count(col(c)).as("n_nonnull"),
            countDistinct(col(c)).as("n_distinct"),
            min(col(c)).as("min_value"),
            max(col(c)).as("max_value"))
          .select(lit(c).as("column_name"), col("n_rows"), col("n_nonnull"),
            col("n_distinct"), col("min_value"), col("max_value"))
      }
      per.reduce(_.unionByName(_)).orderBy("column_name")
    }),

    // Welch's two-sample t-test per day (ClickHouse `welchTTest` analog):
    // does purchase value differ from click value? ONE conditional-agg
    // scan yields both groups' raw sums (n, Σx, Σx²); mean/variance/t/df
    // derive by identical IEEE algebra on both engines (never the
    // engines' own var_samp, whose summation strategy differs). All
    // per-day state is six mergeable sums — map-side combine collapses
    // each partition before the single keyed exchange.
    "stat_welch_ttest" -> ((s, dir) => {
      val v = col("value")
      def g(t: String, e: org.apache.spark.sql.Column) =
        sum(when(col("event_type") === t, e))
      val base = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(
          count(when(col("event_type") === "purchase", 1)).as("n1"),
          g("purchase", v).as("s1"), g("purchase", v * v).as("q1"),
          count(when(col("event_type") === "click", 1)).as("n2"),
          g("click", v).as("s2"), g("click", v * v).as("q2"))
        .filter(col("n1") > 1 && col("n2") > 1)
        .withColumn("m1", col("s1") / col("n1"))
        .withColumn("m2", col("s2") / col("n2"))
        .withColumn("se1",
          (col("q1") - col("s1") * col("s1") / col("n1"))
            / (col("n1") - 1) / col("n1"))
        .withColumn("se2",
          (col("q2") - col("s2") * col("s2") / col("n2"))
            / (col("n2") - 1) / col("n2"))
      base.select(col("day"), col("n1"), col("n2"),
        Tables.nz(round(col("m1") - col("m2"), 6)).as("mean_diff"),
        Tables.nz(round((col("m1") - col("m2")) / sqrt(col("se1") + col("se2")), 6))
          .as("t_stat"),
        round(
          (col("se1") + col("se2")) * (col("se1") + col("se2"))
            / (col("se1") * col("se1") / (col("n1") - 1)
              + col("se2") * col("se2") / (col("n2") - 1)), 6)
          .as("df_welch"))
        .orderBy("day")
    }),

    // One-way ANOVA F-test: does mean `value` differ across event types,
    // per day? Completes the test family (Welch = 2 groups, this = k
    // groups). Two-level mergeable aggregate: per-(day, type) raw sums
    // (n, Σv, Σv²) collapse map-side, then one day-level reduce combines
    // the k group rows — SSB/SSW come from sums only, never from
    // materialized group means. Same raw-sum algebra in the DuckDB twin
    // (discipline of stat_welch_ttest); round(6) absorbs ulps.
    "stat_anova" -> ((s, dir) => {
      val v = col("value")
      // Determinism at ANY scale (the sf1 scale-ramp lesson, SURVEY §9.1):
      // (1) group sums accumulate in DECIMAL — `value` is 2-dp and v·v is
      // 4-dp, so Σv / Σv² are EXACT under any partitioning (the double
      // phrasing hit a 6th-decimal round boundary once sums grew 100×);
      // (2) the one remaining inexact reduction, bsum = Σ_g s²/n over the
      // ≤ k group rows, folds LEFT-TO-RIGHT over the event_type-sorted
      // group array — a canonical order both engines reproduce, instead
      // of partition-arrival order. nd/sd/qd stay order-free (whole
      // counts / exact decimals).
      val g = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).cast(DoubleType).as("n"),
          sum(Tables.dec(v)).as("sDec"),
          sum((v * v).cast("decimal(28,4)")).as("qDec"))
      g.groupBy("day")
        .agg(count(lit(1)).as("k_groups"),
          sum("n").as("nd"),
          sum(col("sDec")).cast(DoubleType).as("sd"),
          sum(col("qDec")).cast(DoubleType).as("qd"),
          sort_array(collect_list(struct(col("event_type"),
            col("sDec").cast(DoubleType).as("s"), col("n")))).as("gs"))
        .withColumn("bsum", aggregate(col("gs"), lit(0.0),
          (a, x) => a + x.getField("s") * x.getField("s") / x.getField("n")))
        .drop("gs")
        .filter(col("k_groups") > 1 && col("nd") > col("k_groups"))
        .withColumn("ssb", col("bsum") - col("sd") * col("sd") / col("nd"))
        .withColumn("ssw", col("qd") - col("bsum"))
        .select(col("day"), col("k_groups"),
          col("nd").cast(LongType).as("n_obs"),
          round(col("ssb"), 6).as("ss_between"),
          round(col("ssw"), 6).as("ss_within"),
          round((col("ssb") / (col("k_groups") - 1))
            / (col("ssw") / (col("nd") - col("k_groups"))), 6).as("f_stat"),
          round(col("ssb") / (col("ssb") + col("ssw")), 6).as("eta_sq"))
        .orderBy("day")
    }),

    // Benjamini–Hochberg FDR control over the per-(type, day) seasonal
    // z-scores — the multiple-testing step every anomaly dashboard needs
    // once it fires hundreds of tests a day (flagging at fixed |z|>2
    // inflates false discoveries linearly in m). Two-sided p comes from
    // the Abramowitz–Stegun 7.1.26 erf polynomial evaluated on the
    // ROUNDED z — the identical closed form in both engines (max approx
    // error 1.5e-7, absorbed by round(6)); the step-up runs as ONE rank
    // window + ONE running max over the tests table, which is
    // |types|×|days| cells — metadata-sized at any event volume, so the
    // unpartitioned window is a deliberate non-issue (the full-data pass
    // is only the daily count aggregate).
    "stat_fdr_bh" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).cast(DoubleType).as("n"))
        .withColumn("dow", (weekday(col("day")) + 1).cast(LongType))
      val prof = daily.groupBy("event_type", "dow")
        .agg(count(lit(1)).as("k"), sum("n").as("s"),
          sum(col("n") * col("n")).as("q"))
        .filter(col("k") > 1)
        .withColumn("mu", col("s") / col("k"))
        .withColumn("sd", sqrt(
          (col("q") - col("s") * col("s") / col("k")) / (col("k") - 1)))
        .filter(col("sd") > 0)
        .select("event_type", "dow", "mu", "sd")
      val x = abs(col("z")) / sqrt(lit(2.0))
      val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
      val poly = ((((lit(1.061405429) * t + lit(-1.453152027)) * t
        + lit(1.421413741)) * t + lit(-0.284496736)) * t
        + lit(0.254829592)) * t
      val wAll = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wRank = Window.orderBy(col("p_value"), col("event_type"), col("day"))
      daily.join(broadcast(prof), Seq("event_type", "dow"))
        .withColumn("z", Tables.nz(round((col("n") - col("mu")) / col("sd"), 6)))
        .withColumn("p_value", round(poly * exp(-x * x), 6))
        .withColumn("rank", row_number().over(wRank).cast(LongType))
        .withColumn("m", count(lit(1)).over(wAll))
        .withColumn("k_max", max(when(
          col("p_value") <= col("rank") * 0.05 / col("m"),
          col("rank"))).over(wAll))
        .select(col("event_type"), col("day"), col("z"), col("p_value"),
          col("rank"), col("m"),
          (col("rank") <= coalesce(col("k_max"), lit(0L))).as("significant"))
        .orderBy("event_type", "day")
    }),

    // Spearman rank correlation (ClickHouse `rankCorr` analog) between
    // per-user purchase frequency and monetary total. Ranks use the
    // average-rank tie convention (min-rank + (ties−1)/2 — frequency is
    // integer-valued, so ties are the common case), then Pearson on the
    // ranks from raw sums only. The two global rank windows run over the
    // ALREADY-AGGREGATED per-user table (one row per user — the event_rfm
    // precedent); at billions of users swap exact ranks for
    // approx-quantile bucket ranks, same ordering semantics.
    // DETERMINISM (r7 — the sf10 sweep caught a 6th-decimal cell at 150k
    // users, TWO causes): (1) the rank key `monetary` was a per-user
    // DOUBLE sum — summation-order ulps can SPLIT a tie group in one
    // engine and not the other, changing the average ranks themselves →
    // rank keys are now exact DECIMAL sums, so tie structure is identical
    // by construction; (2) average ranks are HALF-integers whose double
    // sums drift with partition order → DOUBLED ranks (2·rank + ties − 1)
    // are exact integers, every moment is an exact DECIMAL sum, the three
    // central terms are exact integer differences (the ×4 scale cancels
    // in the ratio), and each converts to double ONCE — identical IEEE
    // scalars on both engines under any partitioning.
    "stat_spearman" -> ((s, dir) => {
      def avgRank2(c: String) =
        (rank().over(Window.orderBy(col(c))) * 2 +
          count(lit(1)).over(Window.partitionBy(col(c))) - 1).cast(LongType)
      val u = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(count(lit(1)).as("freq"),
          sum(Tables.dec(col("value"))).as("monetary"))
        .select(col("user_id"), avgRank2("freq").as("rx"),
          avgRank2("monetary").as("ry"))
      u.agg(count(lit(1)).as("n"),
        sum(col("rx").cast("decimal(38,0)")).as("sx"),
        sum(col("ry").cast("decimal(38,0)")).as("sy"),
        sum((col("rx") * col("rx")).cast("decimal(38,0)")).as("qx"),
        sum((col("ry") * col("ry")).cast("decimal(38,0)")).as("qy"),
        sum((col("rx") * col("ry")).cast("decimal(38,0)")).as("sxy"))
        .select(col("n").as("n_users"),
          Tables.nz(round(
            expr("CAST(n * sxy - sx * sy AS DOUBLE)")
              / sqrt(expr("CAST(n * qx - sx * sx AS DOUBLE)")
                * expr("CAST(n * qy - sy * sy AS DOUBLE)")), 6))
            .as("rho_spearman"))
    }),

    // CUPED variance-reduced experiment readout — the standard trick for
    // shrinking A/B confidence intervals: adjust each user's metric by
    // their PRE-period covariate, y' = y − θ(x − x̄), θ = cov(x,y)/var(x).
    // Arms are a deterministic user_id parity; the period split is the
    // data's midpoint day. Determinism discipline: per-user x/y are
    // DECIMAL money sums (exact), the per-arm reduce keeps Σx, Σy, Σxy,
    // Σx², Σy² in DECIMAL (exact integers at 2-dp scale), and the
    // adjusted moments are derived ALGEBRAICALLY from those sums
    // (Σy'² = Σy² − 2θ(Σxy − x̄Σy) + θ²(Σx² − 2x̄Σx + n·x̄²)) — no
    // order-dependent double summation anywhere, so both engines compute
    // identical IEEE scalars from identical exact inputs. θ and x̄ are
    // ROUNDED to 6 dp before the algebra (the difference-rounded-parts
    // rule). Shape: one per-user exchange, one 2-row arm reduce; the
    // pooled scalars ride a window over the 2-row arm table.
    "stat_cuped" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val span = e.agg(min(to_date(col("ts"))).as("mn"),
          max(to_date(col("ts"))).as("mx"))
        .select(date_add(col("mn"),
          floor(datediff(col("mx"), col("mn")) / 2).cast(IntegerType))
          .as("cut"))
      val z = lit(0).cast("decimal(18,2)")
      val perUser = e.crossJoin(broadcast(span))
        .groupBy("user_id")
        .agg(
          // re-narrow the sum-widened decimal(28,2) back to (18,2) — the
          // oracle does the same CAST, keeping the arm-level x*y moment
          // products inside exact precision on BOTH engines (a (28,2)²
          // product would clamp to (38,4) and can overflow-to-NULL at scale)
          coalesce(sum(when(to_date(col("ts")) < col("cut"),
            Tables.dec(col("value")))), z).cast("decimal(18,2)").as("x"),
          coalesce(sum(when(to_date(col("ts")) >= col("cut"),
            Tables.dec(col("value")))), z).cast("decimal(18,2)").as("y"))
      val arm = perUser
        .groupBy(pmod(col("user_id"), lit(2)).cast(LongType).as("arm"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("arm"), col("n").cast(DoubleType).as("n"),
          col("sx").cast(DoubleType).as("sx"),
          col("sy").cast(DoubleType).as("sy"),
          col("sxy").cast(DoubleType).as("sxy"),
          col("sxx").cast(DoubleType).as("sxx"),
          col("syy").cast(DoubleType).as("syy"))
      val all = Window.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      arm
        .withColumn("tn", sum("n").over(all))
        .withColumn("tx", sum("sx").over(all))
        .withColumn("ty", sum("sy").over(all))
        .withColumn("txy", sum("sxy").over(all))
        .withColumn("txx", sum("sxx").over(all))
        .withColumn("theta",
          round((col("tn") * col("txy") - col("tx") * col("ty"))
            / (col("tn") * col("txx") - col("tx") * col("tx")), 6))
        .withColumn("mx", round(col("tx") / col("tn"), 6))
        .withColumn("syc",
          col("sy") - col("theta") * (col("sx") - col("n") * col("mx")))
        .withColumn("qyc",
          col("syy") - lit(2.0) * col("theta") * (col("sxy") - col("mx") * col("sy"))
            + col("theta") * col("theta")
            * (col("sxx") - lit(2.0) * col("mx") * col("sx")
               + col("n") * col("mx") * col("mx")))
        .select(col("arm"), col("n").cast(LongType).as("n_users"),
          round(col("sy") / col("n"), 6).as("mean_y"),
          round((col("syy") - col("sy") * col("sy") / col("n"))
            / (col("n") - 1), 6).as("var_y"),
          round(col("syc") / col("n"), 6).as("mean_y_cuped"),
          round((col("qyc") - col("syc") * col("syc") / col("n"))
            / (col("n") - 1), 6).as("var_y_cuped"),
          Tables.nz(round(lit(1.0)
            - (col("qyc") - col("syc") * col("syc") / col("n"))
            / (col("syy") - col("sy") * col("sy") / col("n")), 6))
            .as("var_reduction"))
        .orderBy("arm")
    }),

    // Two-proportion z-test + sample-ratio-mismatch guard — the binary-
    // metric sibling of stat_cuped (conversion = "user made a high-value
    // purchase", value ≥ 100 — every user purchases at least once in this
    // corpus, so plain purchase incidence is degenerate at p = 1 and the
    // z denominator collapses). One per-user reduce (exact 0/1), then a 2-row
    // arm reduce collapsed to a single summary row; every input to the
    // z / chi-square formulas is an exact integer, so both engines run
    // identical scalar IEEE ops. SRM is the chi-square of the observed
    // arm sizes against the designed 50/50 split — the sanity gate an
    // experimentation platform evaluates before showing any readout.
    "stat_ab_proportions" -> ((s, dir) => {
      val perUser = Tables.events(s, dir)
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase"
            && col("value") >= 100, 1)
          .otherwise(0)).as("conv"))
        .select(pmod(col("user_id"), lit(2)).as("arm"), col("conv"))
      perUser.agg(
          count(when(col("arm") === 0, 1)).cast(DoubleType).as("n0"),
          count(when(col("arm") === 1, 1)).cast(DoubleType).as("n1"),
          sum(when(col("arm") === 0, col("conv"))).cast(DoubleType).as("c0"),
          sum(when(col("arm") === 1, col("conv"))).cast(DoubleType).as("c1"))
        .withColumn("p0", col("c0") / col("n0"))
        .withColumn("p1", col("c1") / col("n1"))
        .withColumn("p", (col("c0") + col("c1")) / (col("n0") + col("n1")))
        .withColumn("h", (col("n0") + col("n1")) / 2)
        .select(
          col("n0").cast(LongType).as("n0"),
          col("n1").cast(LongType).as("n1"),
          col("c0").cast(LongType).as("conv0"),
          col("c1").cast(LongType).as("conv1"),
          round(col("p0"), 6).as("rate0"),
          round(col("p1"), 6).as("rate1"),
          // nullif guards the degenerate pooled p ∈ {0, 1} (all or no users
          // convert): the denominator is 0 and both engines must return NULL,
          // not ±Inf/NaN — a data change away from the current fixtures
          Tables.nz(round((col("p1") - col("p0"))
            / sqrt(nullif(col("p") * (lit(1.0) - col("p")), lit(0.0))
              * (lit(1.0) / col("n0") + lit(1.0) / col("n1"))), 6))
            .as("z_stat"),
          round((col("n0") - col("h")) * (col("n0") - col("h")) / col("h")
            + (col("n1") - col("h")) * (col("n1") - col("h")) / col("h"), 6)
            .as("srm_chi2"))
    }),

    // Theil's U (uncertainty coefficient) between event type and ISO
    // weekday — the ASYMMETRIC association measure that answers "how much
    // does knowing the weekday reduce uncertainty about the event type?"
    // (and the reverse), completing the association family next to the
    // symmetric stat_cramers_v. U(X|Y) = I(X;Y)/H(X) with every entropy
    // computed by the mergeable-sum identity (H = log2 T − Σ n·log2 n / T,
    // the agg_entropy discipline) over the k×m contingency cells — the
    // only full-data pass is the cell aggregate; the three entropy
    // reductions run on ≤ |types|·7 metadata rows.
    "stat_theils_u" -> ((s, dir) => {
      val cells = Tables.events(s, dir)
        .groupBy(col("event_type"),
          (weekday(to_date(col("ts"))) + 1).cast(LongType).as("dow"))
        .agg(count(lit(1)).as("n"))
      def ent(grouped: DataFrame, name: String) = grouped
        .agg(sum("n").cast(DoubleType).as("t"),
          sum(col("n").cast(DoubleType) * log2(col("n"))).as("sl"))
        .select((log2(col("t")) - col("sl") / col("t")).as(name))
      val hx = ent(cells.groupBy("event_type").agg(sum("n").as("n")), "hx")
      val hy = ent(cells.groupBy("dow").agg(sum("n").as("n")), "hy")
      val hxy = ent(cells, "hxy")
      hx.crossJoin(broadcast(hy)).crossJoin(broadcast(hxy))
        .withColumn("mi", col("hx") + col("hy") - col("hxy"))
        .select(round(col("hx"), 6).as("h_type"),
          round(col("hy"), 6).as("h_dow"),
          round(col("hxy"), 6).as("h_joint"),
          Tables.nz(round(col("mi"), 6)).as("mutual_info"),
          Tables.nz(round(col("mi") / col("hx"), 6)).as("u_type_given_dow"),
          Tables.nz(round(col("mi") / col("hy"), 6)).as("u_dow_given_type"))
    }),

    // Join/agg key-skew profiler — the report an engineer actually runs
    // before choosing a partitioning at 100 TB: per-key cardinality,
    // top-1/top-10 share, Gini concentration, p50/p99 key sizes, for
    // each candidate shuffle key. The full-data pass is one count per
    // key column; the two rank windows and the Gini cumsum run over the
    // per-key COUNT table (|keys| rows — swap exact ranks for a
    // bottom-k/approx-quantile sketch at billions of keys, same
    // decision output). Shares are exact-integer ratios; round(6).
    "profile_key_skew" -> ((s, dir) => {
      def skew(keyCol: String): DataFrame = {
        val counts = Tables.events(s, dir)
          .groupBy(col(keyCol).cast(StringType).as("k"))
          .agg(count(lit(1)).as("n"))
        val asc = Window.orderBy(col("n"), col("k"))
        val desc = Window.orderBy(col("n").desc, col("k"))
        counts
          .withColumn("i", row_number().over(asc).cast(DoubleType))
          .withColumn("j", row_number().over(desc))
          .agg(
            count(lit(1)).as("n_keys"),
            sum("n").as("total_rows"),
            round(max("n").cast(DoubleType) / sum("n"), 6).as("top1_share"),
            round(sum(when(col("j") <= 10, col("n"))).cast(DoubleType)
              / sum("n"), 6).as("top10_share"),
            round(lit(2.0) * sum(col("i") * col("n"))
              / (count(lit(1)).cast(DoubleType) * sum("n").cast(DoubleType))
              - (count(lit(1)) + 1).cast(DoubleType) / count(lit(1)), 6)
              .as("gini"),
            // one array-percentile buffer for both cuts (r10, same doubles)
            percentile(col("n"), array(lit(0.5), lit(0.99))).as("qs"))
          .select(lit(keyCol).as("key_name"), col("n_keys"),
            col("total_rows"), col("top1_share"), col("top10_share"),
            col("gini"),
            round(element_at(col("qs"), 1), 6).as("p50"),
            round(element_at(col("qs"), 2), 6).as("p99"))
      }
      skew("user_id").unionAll(skew("event_type")).orderBy("key_name")
    }),

    // Leave-one-out target encoding — the leakage-safe categorical
    // feature every tabular-ML pipeline ships: each row's category is
    // encoded by the target mean of the OTHER rows in its category, plus
    // an m-estimate blend toward the global mean (m = 10) for rare
    // categories. Deliberately NOT a per-category window: the category
    // stats collapse in a tiny aggregate that broadcast-joins back onto
    // the fact scan (map-only encode), so a skewed category costs nothing
    // — the per-category-window formulation would funnel every hot
    // category through one task. round(6) on the encoded features.
    "ml_target_encode" -> ((s, dir) => {
      val c = Tables.events(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_c"), sum("value").as("s_c"))
      val g = Tables.events(s, dir)
        .agg((sum("value") / count(lit(1))).as("gmean"))
      Tables.events(s, dir)
        .join(broadcast(c), "event_type")
        .crossJoin(broadcast(g))
        .filter(col("n_c") > 1)
        .select(col("event_id"), col("event_type"),
          round((col("s_c") - col("value")) / (col("n_c") - 1), 6).as("te_loo"),
          round((col("s_c") - col("value") + lit(10) * col("gmean"))
            / (col("n_c") - 1 + 10), 6).as("te_smooth"))
        .orderBy("event_id")
    }),

    // Cramér's V association between event type and ISO weekday
    // (ClickHouse `cramersV` analog). The only full-data pass is the
    // contingency aggregate; everything after runs on the k×m cell table
    // (≤ 35 rows here — metadata-sized at ANY corpus scale, so the
    // unpartitioned window sums over it are driver-cheap by construction).
    "stat_cramers_v" -> ((s, dir) => {
      val cells = Tables.events(s, dir)
        .groupBy(col("event_type"), (weekday(to_date(col("ts"))) + 1).as("dow"))
        .agg(count(lit(1)).cast(DoubleType).as("o"))
      val t = cells.agg(sum("o").as("tot"),
        countDistinct("event_type").as("r"), countDistinct("dow").as("c"))
      cells
        .withColumn("rt", sum("o").over(Window.partitionBy("event_type")))
        .withColumn("ct", sum("o").over(Window.partitionBy("dow")))
        .crossJoin(broadcast(t))
        .withColumn("e", col("rt") * col("ct") / col("tot"))
        .withColumn("cell",
          (col("o") - col("e")) * (col("o") - col("e")) / col("e"))
        .groupBy()
        .agg(
          max(col("tot")).cast(LongType).as("n_events"),
          max(col("r")).as("n_types"),
          max(col("c")).as("n_days"),
          round(sum("cell"), 6).as("chi2"),
          round(sqrt(sum("cell") / max(col("tot"))
            / (least(max(col("r")), max(col("c"))) - lit(1))), 6)
            .as("cramers_v"))
    }),

    // Jarque–Bera normality test per group — the cheap "is this column
    // even approximately normal?" gate run before any t-test/z-interval
    // is trusted: JB = n/6·(S² + K²/4) from the SAME four exact integer
    // power sums as `agg_moments` (l_quantity is integer-valued, so both
    // engines hold identical sums and the moment algebra is identical
    // IEEE). One aggregate exchange; χ²(2) critical value 5.99 pins the
    // verdict column identically on both engines.
    "stat_jarque_bera" -> ((s, dir) => {
      val x = col("l_quantity")
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(x).as("s1"), sum(x * x).as("s2"),
          sum(x * x * x).as("s3"), sum(x * x * x * x).as("s4"))
        .withColumn("mean", col("s1") / col("n"))
        .withColumn("m2", col("s2") / col("n") - col("mean") * col("mean"))
        .withColumn("m3",
          col("s3") / col("n") - lit(3.0) * col("mean") * (col("s2") / col("n"))
            + lit(2.0) * col("mean") * col("mean") * col("mean"))
        .withColumn("m4",
          col("s4") / col("n") - lit(4.0) * col("mean") * (col("s3") / col("n"))
            + lit(6.0) * col("mean") * col("mean") * (col("s2") / col("n"))
            - lit(3.0) * col("mean") * col("mean") * col("mean") * col("mean"))
        .withColumn("skew", col("m3") / (col("m2") * sqrt(col("m2"))))
        .withColumn("kurt", col("m4") / (col("m2") * col("m2")) - lit(3.0))
        .select(col("l_returnflag"), col("n"),
          Tables.nz(round(col("skew"), 6)).as("skew_pop"),
          Tables.nz(round(col("kurt"), 6)).as("kurt_excess"),
          round(col("n") / lit(6.0)
            * (col("skew") * col("skew")
              + col("kurt") * col("kurt") / lit(4.0)), 6).as("jb_stat"),
          (col("n") / lit(6.0) * (col("skew") * col("skew")
            + col("kurt") * col("kurt") / lit(4.0)) > 5.99).as("reject_normal"))
        .orderBy("l_returnflag")
    }),

    // Anderson–Darling normality statistic of the daily value
    // distribution — the tail-sensitive normality test (AD weights the
    // tails where KS barely looks). Single-pass reformulation: the
    // textbook Σ(2i−1)[ln Φ(z_i) + ln(1−Φ(z_{n+1−i}))] pairs row i with
    // its mirror; substituting j = n+1−i folds both terms onto ONE row —
    // (2i−1)·ln Φ(z_i) + (2n+1−2i)·ln(1−Φ(z_i)) — so one ranked window
    // pass per day suffices, no self-join. Φ via the shared
    // Abramowitz–Stegun erfc polynomial (the stat_fdr_bh literals):
    // identical scalar trees on both engines, so the ≈1.5e-7 poly error
    // cancels in the comparison. Day mean/sd from raw sums.
    // DOMAIN CLAMP (r7 — the sf1 sweep caught it): at |z| ≳ 8 the poly CDF
    // saturates to EXACTLY 1.0 in double, so ln(1−p) is ln(0) — DuckDB
    // raises, Spark's log() silently NULLs the term and sum() drops it,
    // both wrong. Φ is clamped into [1e-15, 1−1e-15] with identical
    // literals on both engines (the textbook tail-saturation guard; the
    // clamp error is below the polynomial's own 1.5e-7 bound's effect on
    // the statistic at any realistic n).
    // ORDER-FREE SUM (r8 — the sf100 sweep caught it): at n = 3.34M rows
    // per day the raw double Σterm differs between Spark's partial-sum
    // order and DuckDB's pairwise segment tree by more than the 6-dp
    // output granularity (155998.309625 vs ...626). Per-row terms are
    // identical doubles on both engines (same IEEE scalar tree), so the
    // cure is to make the SUM order-independent, not more precise: each
    // term is scaled by 10¹⁶ in double (exact-rounded, engine-identical)
    // and cast to an INTEGER (DECIMAL(38,0) / HUGEINT) — the sum of
    // integers is exact under any association — and the final
    // A² = (−n²·10¹⁶ − S₀)/(n·10¹⁶) rounds to 6 dp in integer space
    // (the event_interpolate recipe, half-away-from-zero on both
    // engines). The only residual divergence is a term·10¹⁶ landing
    // EXACTLY on .5 in double (Spark casts HALF_UP, DuckDB half-even):
    // that needs the double to be odd/2¹⁷ after scaling — measure-zero
    // for log-derived terms (< 2⁻³⁵ per row). Headroom: 2·S₀·10⁶ stays
    // inside 38 digits up to n ≈ 10⁸ rows per day-group.
    // r11 (guide §2.5 — VERDICT r10 ask #5): the day-partitioned windows
    // (three unbounded-frame moment aggregates + the rank sort) shuffled
    // and sorted EVERY event on one reducer per day — the named skew wall.
    // Two changes, both exact:
    //  1. The day moments (n, Σc, Σc², and now min/max of value) move from
    //     window aggregates to ONE partially-aggregated groupBy — the
    //     day-level cells broadcast back instead of every row riding
    //     through a day-keyed exchange. The sums are exact integers
    //     (order-free by the r8 design), so mu/sd are the identical
    //     doubles; the n>7 / sd>0 day filter now also prunes events BEFORE
    //     the rank shuffle.
    //  2. The rank i = row_number over (day | value, event_id) becomes the
    //     RANGE-BUCKETED two-level rank (BucketRank): local rank within
    //     (day, bucket) + lower-bucket row-count offset. The bucket id is
    //     pure and monotone in value, so it refines the total
    //     (value, event_id) order and the global rank is exact.
    // Every per-row term is the identical double and the term16 sum was
    // already order-independent integer arithmetic, so the statistic is
    // bit-equal — pinned against the window form in
    // R11RewriteEquivalenceSpec, oracle green.
    "stat_anderson_darling" -> ((s, dir) => {
      def phi(z: org.apache.spark.sql.Column) = {
        val x = abs(z) / sqrt(lit(2.0))
        val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
        val poly = ((((lit(1.061405429) * t + lit(-1.453152027)) * t
          + lit(1.421413741)) * t + lit(-0.284496736)) * t
          + lit(0.254829592)) * t
        val erfc = poly * exp(-x * x)
        when(z >= 0, lit(1.0) - erfc / 2).otherwise(erfc / 2)
      }
      // r8 (sf100): mu/sd were raw DOUBLE sums over the day — an
      // accumulation-order ulp in mu shifts EVERY z coherently, so at
      // n = 3.34M the statistic moved past the 6-dp grain. Cents are
      // exact integers: mu and sd² are integer rationals, each converted
      // to double ONCE (exact-rounded, engine-identical).
      val ev = Tables.events(s, dir)
        .select(to_date(col("ts")).as("day"), col("value"), col("event_id"))
      // r9 (driver-bench triage): the day moments accumulate as LONG, not
      // DECIMAL(38,0) — the sums are exact integers either way (identical
      // values, same order-independence), but decimal aggregation was the
      // dominant cost of the r8 order-free rewrite (0.58 -> 1.46 s at
      // sf0.1). Headroom: Σc ≤ n·10⁵, Σc² ≤ n·10¹⁰ — inside Long to
      // n ≈ 10⁸ rows/day-group (the same bound as the 38-digit term sum);
      // ANSI mode raises on overflow rather than wrapping. Only the
      // (n·Σc² − (Σc)²) cross term still widens to DECIMAL before the
      // one exact-rounded conversion to double.
      val cc = (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType)
      val mom = ev.groupBy("day")
        .agg(count(lit(1)).as("n"), sum(cc).as("svc"),
          sum(cc * cc).as("sq4"),
          min(BucketRank.finite(col("value"))).as("mn"),
          max(BucketRank.finite(col("value"))).as("mx"))
        .withColumn("mu",
          col("svc").cast(DoubleType) / (lit(100.0) * col("n")))
        .withColumn("sd", sqrt(
          (col("n").cast(DecimalType(38, 0)) * col("sq4")
            - col("svc").cast(DecimalType(38, 0)) * col("svc")).cast(DoubleType)
            / (lit(10000L).cast(DecimalType(38, 0)) * col("n")
              * (col("n") - 1)).cast(DoubleType)))
        .filter(col("n") > 7 && col("sd") > 0)
        .select(col("day"), col("n"), col("mn"), col("mx"), col("mu"), col("sd"))
      val nb = BucketRank.nBuckets(s)
      val b = BucketRank.joinGroup(ev, mom, "day")
        .withColumn("bkt", BucketRank.bucketOf(col("value"), col("mn"), col("mx"), nb))
      val wB = Window.partitionBy("day").orderBy("bkt")
      val off = b.groupBy("day", "bkt").agg(count(lit(1)).as("bc"))
        .withColumn("off", sum("bc").over(wB) - col("bc"))
        .select(col("day").as("o_day"), col("bkt").as("o_bkt"), col("off"))
      val wL = Window.partitionBy("day", "bkt").orderBy("value", "event_id")
      b.join(broadcast(off),
          col("day") <=> col("o_day") && col("bkt") === col("o_bkt"))
        .withColumn("i", col("off") + row_number().over(wL))
        .withColumn("p", least(greatest(
          phi((col("value") - col("mu")) / col("sd")),
          lit(1e-15)), lit(0.999999999999999)))
        .withColumn("term",
          (lit(2.0) * col("i") - 1) * log(col("p"))
            + (lit(2.0) * col("n") - lit(2.0) * col("i") + 1)
              * log(lit(1.0) - col("p")))
        .withColumn("term16",
          (col("term") * lit(1e16)).cast(DecimalType(38, 0)))
        .groupBy("day")
        .agg(max("n").as("n"), sum(col("term16")).as("s0"))
        .withColumn("pnum",
          (-col("n")).cast(DecimalType(38, 0)) * col("n")
            * lit(10000000000000000L) - col("s0"))
        .withColumn("den",
          col("n").cast(DecimalType(38, 0)) * lit(10000000000000000L))
        .withColumn("a2_stat",
          when(col("pnum") >= 0,
            expr("(2 * pnum * 1000000 + den) div (2 * den)"))
            .otherwise(-expr("(2 * (-pnum) * 1000000 + den) div (2 * den)"))
            .cast(DoubleType) / 1e6)
        .select(col("day"), col("n"), col("a2_stat"),
          (col("a2_stat") > 0.752).as("reject_normal"))
        .orderBy("day")
    }),

    // Tukey–Kramer HSD post-hoc pairwise comparisons — the step an
    // analyst runs AFTER a significant ANOVA to learn WHICH groups
    // differ: studentized-range q for every event-type pair, using the
    // pooled within-group mean square from the same raw sums as
    // `stat_anova`. The corpus collapses to one 5-row (n, Σv, Σv²) group
    // table; the 10 pairs come from a broadcast self-join of THAT table
    // (metadata-sized at any scale — never a data-side pairing). The
    // k=5, df→∞, α=0.05 studentized-range critical value 3.858 is a
    // shared literal; verdicts compare the ROUNDED q so the boolean is
    // deterministic cross-engine.
    "stat_tukey_hsd" -> ((s, dir) => {
      val g = Tables.events(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).cast(DoubleType).as("n"),
          sum("value").as("s"), sum(col("value") * col("value")).as("q"))
      val tot = g.agg(sum("n").as("nn"), count(lit(1)).as("k"),
        sum(col("q") - col("s") * col("s") / col("n")).as("ssw"))
        .withColumn("msw", col("ssw") / (col("nn") - col("k")))
      val a = g.select(col("event_type").as("type_a"), col("n").as("na"),
        (col("s") / col("n")).as("ma"))
      val b = g.select(col("event_type").as("type_b"), col("n").as("nb"),
        (col("s") / col("n")).as("mb"))
      a.join(b, col("type_a") < col("type_b"))
        .crossJoin(broadcast(tot))
        .withColumn("q_stat",
          round(abs(col("ma") - col("mb"))
            / sqrt(col("msw") / 2
              * (lit(1.0) / col("na") + lit(1.0) / col("nb"))), 6))
        .select(col("type_a"), col("type_b"),
          Tables.nz(round(col("ma") - col("mb"), 6)).as("mean_diff"),
          col("q_stat"),
          (col("q_stat") > 3.858).as("significant"))
        .orderBy("type_a", "type_b")
    }),

    // Brown–Forsythe (median-centered Levene) homogeneity-of-variance
    // test across event types — the gate ANOVA's equal-variance
    // assumption is checked with (median-centered = the robust default).
    // Exact group medians via `percentile` (≡ DuckDB quantile_cont);
    // medians broadcast back; then ONE conditional aggregate collapses
    // the |x−med| deviations to per-group (n, Σz, Σz²) and the W
    // statistic derives from sums only — between-SS as Σs²/n − T²/N,
    // never per-row differences from a float mean.
    "stat_levene" -> ((s, dir) => {
      val e = Tables.events(s, dir).select(col("event_type"), col("value"))
      val med = e.groupBy("event_type")
        .agg(expr("percentile(value, 0.5D)").as("med"))
      e.join(broadcast(med), "event_type")
        .select(col("event_type"), abs(col("value") - col("med")).as("z"))
        .groupBy("event_type")
        .agg(count(lit(1)).cast(DoubleType).as("n"),
          sum("z").as("s"), sum(col("z") * col("z")).as("q"))
        .agg(count(lit(1)).cast(DoubleType).as("k"),
          sum("n").as("nn"), sum("s").as("ts"),
          sum(col("s") * col("s") / col("n")).as("bsum"),
          sum(col("q") - col("s") * col("s") / col("n")).as("wss"))
        .select(col("k").cast(LongType).as("k_groups"),
          col("nn").cast(LongType).as("n_obs"),
          round((col("nn") - col("k")) / (col("k") - 1)
            * (col("bsum") - col("ts") * col("ts") / col("nn"))
            / col("wss"), 6).as("w_stat"))
    }),

    // Pooled-variance two-sample t-test per day (ClickHouse `studentTTest`
    // analog) — completes the test family next to `stat_welch_ttest`
    // (Welch = unequal variances; this = classical equal-variance pooling,
    // the version with an exact t distribution under normality). Identical
    // raw-sum discipline: ONE conditional-agg scan yields both groups'
    // (n, Σx, Σx²); the pooled variance
    // sp² = ((n1−1)s1² + (n2−1)s2²)/(n1+n2−2) and t derive by the same
    // IEEE scalar tree on both engines — never an engine's var_samp.
    "stat_student_ttest" -> ((s, dir) => {
      val v = col("value")
      def g(t: String, e: org.apache.spark.sql.Column) =
        sum(when(col("event_type") === t, e))
      Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(
          count(when(col("event_type") === "purchase", 1)).as("n1"),
          g("purchase", v).as("s1"), g("purchase", v * v).as("q1"),
          count(when(col("event_type") === "click", 1)).as("n2"),
          g("click", v).as("s2"), g("click", v * v).as("q2"))
        .filter(col("n1") > 1 && col("n2") > 1)
        .withColumn("m1", col("s1") / col("n1"))
        .withColumn("m2", col("s2") / col("n2"))
        .withColumn("sp2",
          ((col("q1") - col("s1") * col("s1") / col("n1"))
            + (col("q2") - col("s2") * col("s2") / col("n2")))
            / (col("n1") + col("n2") - 2))
        .select(col("day"), col("n1"), col("n2"),
          Tables.nz(round(col("m1") - col("m2"), 6)).as("mean_diff"),
          Tables.nz(round((col("m1") - col("m2"))
            / sqrt(col("sp2") * (lit(1.0) / col("n1") + lit(1.0) / col("n2"))), 6))
            .as("t_stat"),
          (col("n1") + col("n2") - 2).as("df"))
        .orderBy("day")
    }),

    // Chi-squared goodness-of-fit per day: does the day's event-type mix
    // deviate from the corpus-level distribution? Completes the
    // categorical-test family next to the two-way tests (Cramér's V /
    // contingency) with the one-way GOF every monitoring pipeline runs on
    // composition drift. Expected counts e = n_day · p_type with p_type
    // from the WHOLE corpus (integer counts — exact on both engines);
    // days missing a type contribute o = 0 against e > 0 via the dense
    // day × type grid (the gap-fill discipline: the grid is days × 5
    // rows, broadcast — the fact table is touched once). The ≤ k-element
    // χ² reduction folds LEFT-TO-RIGHT over the type-sorted term array
    // (the stat_anova determinism lesson, applied at birth). Verdict
    // flags pin the dof-4 critical values as 6-dp literals, NULL for any
    // other dof so a fixture type-set change fails loudly here.
    "stat_chi2_gof" -> ((s, dir) => {
      // ONE corpus scan: the (day, type) count table is days×types rows and
      // everything else — corpus type proportions, day totals, the dense
      // grid — derives from it (integer sums, so p_type is bit-identical
      // to a direct corpus count). Persisted because three readouts
      // reference it.
      val daily = OpCache.cached(dir,
        Tables.events(s, dir)
          .groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(count(lit(1)).as("o")))
      val pt = daily.groupBy("event_type").agg(sum("o").as("c"))
        .crossJoin(broadcast(daily.agg(sum("o").as("nn"))))
        .select(col("event_type"),
          col("c").cast(DoubleType) / col("nn").cast(DoubleType) as "p")
      val dayTot = daily.groupBy("day").agg(sum("o").as("n_day"))
      val grid = dayTot.crossJoin(broadcast(pt))
      val terms = grid.join(daily, Seq("day", "event_type"), "left")
        .na.fill(0L, Seq("o"))
        .withColumn("e", col("n_day").cast(DoubleType) * col("p"))
        .withColumn("t",
          (col("o").cast(DoubleType) - col("e")) * (col("o").cast(DoubleType) - col("e"))
            / col("e"))
      terms.groupBy("day")
        .agg(count(lit(1)).as("k"), max("n_day").as("n_day"),
          sort_array(collect_list(struct(col("event_type"), col("t")))).as("ts_"))
        .withColumn("chi2", aggregate(col("ts_"), lit(0.0),
          (a, x) => a + x.getField("t")))
        .select(col("day"), col("n_day"), (col("k") - 1).as("dof"),
          round(col("chi2"), 6).as("chi2"),
          when(col("k") === 5, round(col("chi2"), 6) > lit(9.487729))
            .as("reject_05"),
          when(col("k") === 5, round(col("chi2"), 6) > lit(13.276704))
            .as("reject_01"))
        .orderBy("day")
    }),

    // Two-sample mean z-test per day (ClickHouse `meanZTest` analog) —
    // completes the location-test family: Welch (per-day sample variances,
    // unequal), Student (per-day pooled), and this — variances taken as
    // KNOWN constants, the z-test's defining assumption (ClickHouse passes
    // them as literal arguments; here they are the corpus-level population
    // variances of each arm, computed once and broadcast). Per-day work is
    // then one conditional-agg scan; z = (m1−m2)/√(σ1²/n1 + σ2²/n2), plus
    // the 95% CI ClickHouse returns (z₀.₉₇₅ as the same 6-dp literal on
    // both engines). Determinism: every full-corpus Σv / Σv² accumulates
    // in DECIMAL — exact under any partitioning (the stat_anova sf1
    // lesson, applied at birth); doubles appear only in the scalar tree
    // downstream of exact sums.
    "stat_mean_ztest" -> ((s, dir) => {
      val v = col("value")
      def g(t: String, e: org.apache.spark.sql.Column) =
        sum(when(col("event_type") === t, e))
      def cnt(t: String) = count(when(col("event_type") === t, 1))
      val vDec = Tables.dec(v)
      val qDec = (v * v).cast("decimal(28,4)")
      val pop = Tables.events(s, dir).agg(
          cnt("purchase").cast(DoubleType).as("pn1"),
          g("purchase", vDec).cast(DoubleType).as("ps1"),
          g("purchase", qDec).cast(DoubleType).as("pq1"),
          cnt("click").cast(DoubleType).as("pn2"),
          g("click", vDec).cast(DoubleType).as("ps2"),
          g("click", qDec).cast(DoubleType).as("pq2"))
        .select(
          (col("pq1") / col("pn1")
            - (col("ps1") / col("pn1")) * (col("ps1") / col("pn1"))).as("var1"),
          (col("pq2") / col("pn2")
            - (col("ps2") / col("pn2")) * (col("ps2") / col("pn2"))).as("var2"))
      val z975 = lit(1.959964)
      Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(cnt("purchase").as("n1"),
          g("purchase", vDec).cast(DoubleType).as("s1"),
          cnt("click").as("n2"),
          g("click", vDec).cast(DoubleType).as("s2"))
        .filter(col("n1") > 0 && col("n2") > 0)
        .crossJoin(broadcast(pop))
        .withColumn("diff", col("s1") / col("n1") - col("s2") / col("n2"))
        .withColumn("se", sqrt(col("var1") / col("n1") + col("var2") / col("n2")))
        .select(col("day"), col("n1"), col("n2"),
          Tables.nz(round(col("diff"), 6)).as("mean_diff"),
          Tables.nz(round(col("diff") / col("se"), 6)).as("z_stat"),
          Tables.nz(round(col("diff") - z975 * col("se"), 6)).as("ci_lo"),
          Tables.nz(round(col("diff") + z975 * col("se"), 6)).as("ci_hi"))
        .orderBy("day")
    }),

    // Bias-corrected Cramér's V (Bergsma 2013; ClickHouse
    // `cramersVBiasCorrected` analog): the raw V of `stat_cramers_v`
    // overstates association in small/sparse contingency tables; the
    // correction subtracts the expected chi-square inflation
    // (r−1)(c−1)/(n−1) from φ² and shrinks the table dims the same way.
    // Same scale shape as the raw key: ONE full-data contingency
    // aggregate, then scalar algebra on the ≤ k×7 cell table.
    "stat_cramers_v_corrected" -> ((s, dir) => {
      val cells = Tables.events(s, dir)
        .groupBy(col("event_type"), (weekday(to_date(col("ts"))) + 1).as("dow"))
        .agg(count(lit(1)).cast(DoubleType).as("o"))
      val t = cells.agg(sum("o").as("tot"),
        countDistinct("event_type").cast(DoubleType).as("r"),
        countDistinct("dow").cast(DoubleType).as("c"))
      cells
        .withColumn("rt", sum("o").over(Window.partitionBy("event_type")))
        .withColumn("ct", sum("o").over(Window.partitionBy("dow")))
        .crossJoin(broadcast(t))
        .withColumn("e", col("rt") * col("ct") / col("tot"))
        .withColumn("cell",
          (col("o") - col("e")) * (col("o") - col("e")) / col("e"))
        .groupBy()
        .agg(max(col("tot")).as("n"), max(col("r")).as("r"),
          max(col("c")).as("c"), sum("cell").as("chi2"))
        .withColumn("phi2", col("chi2") / col("n"))
        .withColumn("phi2c", greatest(lit(0.0),
          col("phi2") - (col("r") - 1) * (col("c") - 1) / (col("n") - 1)))
        .withColumn("rc", col("r") - (col("r") - 1) * (col("r") - 1) / (col("n") - 1))
        .withColumn("cc", col("c") - (col("c") - 1) * (col("c") - 1) / (col("n") - 1))
        .select(
          col("n").cast(LongType).as("n_events"),
          round(col("chi2"), 6).as("chi2"),
          round(sqrt(col("phi2") / (least(col("r"), col("c")) - 1)), 6)
            .as("v_raw"),
          round(sqrt(col("phi2c") / (least(col("rc"), col("cc")) - 1)), 6)
            .as("v_corrected"))
    }),

    // The remaining classical association coefficients over the same
    // event-type × weekday contingency table: φ (mean-square contingency),
    // Pearson's C = √(χ²/(χ²+n)), Tschuprow's T = √(φ²/√((r−1)(c−1))) —
    // completing the family next to raw/bias-corrected Cramér's V (the
    // four are NOT interchangeable: C saturates below 1, T penalizes
    // rectangular tables). Same shape: ONE contingency aggregate, scalar
    // algebra on the k×7 cell table.
    "stat_association_coeffs" -> ((s, dir) => {
      val cells = Tables.events(s, dir)
        .groupBy(col("event_type"), (weekday(to_date(col("ts"))) + 1).as("dow"))
        .agg(count(lit(1)).cast(DoubleType).as("o"))
      val t = cells.agg(sum("o").as("tot"),
        countDistinct("event_type").cast(DoubleType).as("r"),
        countDistinct("dow").cast(DoubleType).as("c"))
      cells
        .withColumn("rt", sum("o").over(Window.partitionBy("event_type")))
        .withColumn("ct", sum("o").over(Window.partitionBy("dow")))
        .crossJoin(broadcast(t))
        .withColumn("e", col("rt") * col("ct") / col("tot"))
        .withColumn("cell",
          (col("o") - col("e")) * (col("o") - col("e")) / col("e"))
        .groupBy()
        .agg(max(col("tot")).as("n"), max(col("r")).as("r"),
          max(col("c")).as("c"), sum("cell").as("chi2"))
        .select(
          col("n").cast(LongType).as("n_events"),
          round(sqrt(col("chi2") / col("n")), 6).as("phi"),
          round(sqrt(col("chi2") / (col("chi2") + col("n"))), 6)
            .as("contingency_c"),
          round(sqrt(col("chi2") / col("n")
            / sqrt((col("r") - 1) * (col("c") - 1))), 6).as("tschuprow_t"))
    }),

    // A/B minimum-sample-size calculators (ClickHouse
    // `minSampleSizeConversion` / `minSampleSizeContinuous` analogs) — the
    // pre-experiment power analysis an experimentation platform serves
    // next to the readouts (stat_ab_proportions / stat_cuped): at α=0.05
    // (two-sided) and power 0.8, how many users per arm to detect a 2 pp
    // conversion lift, and how many to detect a 5% relative shift of the
    // per-user mean? Baselines come from the data by the SAME per-user
    // definitions the readout keys use (exact integers / DECIMAL sums), so
    // the z-formula inputs are bit-identical on both engines; the normal
    // quantiles are shared literals. Full-data cost is the one per-user
    // reduce; the calculator itself is scalar algebra on a 1-row frame.
    "stat_min_sample_size" -> ((s, dir) => {
      val za = lit(1.9599639845400545) // z_{0.025}
      val zb = lit(0.8416212335729143) // z_{0.20} (power 0.8)
      val mde = lit(0.02)              // +2 pp conversion lift
      val rel = lit(0.05)              // 5% relative mean shift
      val perUser = Tables.events(s, dir)
        .groupBy("user_id")
        .agg(
          max(when(col("event_type") === "purchase"
              && col("value") >= 100, 1).otherwise(0)).as("conv"),
          coalesce(sum(Tables.dec(col("value"))),
            lit(0).cast("decimal(18,2)")).cast("decimal(18,2)").as("y"))
      perUser.agg(
          count(lit(1)).cast(DoubleType).as("n"),
          sum("conv").cast(DoubleType).as("c"),
          sum(col("y")).cast(DoubleType).as("sy"),
          sum(col("y") * col("y")).cast(DoubleType).as("qy"))
        .withColumn("p1", col("c") / col("n"))
        .withColumn("p2", col("p1") + mde)
        .withColumn("my", col("sy") / col("n"))
        .withColumn("vy",
          (col("qy") - col("sy") * col("sy") / col("n")) / (col("n") - 1))
        .select(
          col("n").cast(LongType).as("n_users"),
          round(col("p1"), 6).as("p_base"),
          ceil((za + zb) * (za + zb)
            * (col("p1") * (lit(1.0) - col("p1"))
              + col("p2") * (lit(1.0) - col("p2")))
            / (mde * mde)).cast(LongType).as("n_per_arm_conversion"),
          round(col("my"), 6).as("mean_y"),
          round(sqrt(col("vy")), 6).as("sd_y"),
          ceil(lit(2.0) * (za + zb) * (za + zb) * col("vy")
            / (rel * col("my") * rel * col("my"))).cast(LongType)
            .as("n_per_arm_continuous"))
    }),

    // Weight-of-Evidence / Information Value per category (the
    // credit-scoring / feature-selection staple a feature platform
    // computes before model training): WoE_c = ln((good_c/G)/(bad_c/B)),
    // IV = Σ (good_c/G − bad_c/B)·WoE_c, label = high-value event
    // (value ≥ 100), category = event_type. Counts are exact integers
    // from ONE conditional-agg scan; the share algebra runs on the
    // |categories|-row table (window over the whole tiny frame). The
    // standard degenerate-category rule is pinned identically on both
    // engines: categories with zero goods or zero bads are dropped
    // (WoE would be ±∞), never smoothed silently.
    "ml_woe_iv" -> ((s, dir) => {
      val all = Window.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          count(when(col("value") >= 100, 1)).as("n_good"),
          count(when(col("value") < 100, 1)).as("n_bad"))
        .filter(col("n_good") > 0 && col("n_bad") > 0)
        .withColumn("gshare",
          col("n_good").cast(DoubleType) / sum("n_good").over(all))
        .withColumn("bshare",
          col("n_bad").cast(DoubleType) / sum("n_bad").over(all))
        .withColumn("woe", log(col("gshare") / col("bshare")))
        .withColumn("iv_term", (col("gshare") - col("bshare")) * col("woe"))
        .select(col("event_type"), col("n_good"), col("n_bad"),
          Tables.nz(round(col("woe"), 6)).as("woe"),
          Tables.nz(round(col("iv_term"), 6)).as("iv_term"),
          round(sum("iv_term").over(all), 6).as("iv_total"))
        .orderBy("event_type")
    }),

    // Per-day ROC AUC of `value` as a purchase-vs-click classifier score
    // (ClickHouse `arrayAUC` analog) via the tie-aware rank identity
    // AUC = Σ_s np(s)·(NN_below(s) + nn(s)/2) / (NP·NN). The formulation
    // is deliberately NOT a global sort of raw rows: the corpus collapses
    // to DISTINCT (day, score) cells first (one keyed exchange with
    // map-side combine), and the running sum walks that far smaller cell
    // table — per-day window state is |distinct scores|, not |rows|.
    "agg_auc" -> ((s, dir) => {
      val cells = Tables.events(s, dir)
        .filter(col("event_type").isin("purchase", "click"))
        .groupBy(to_date(col("ts")).as("day"), col("value"))
        .agg(
          count(when(col("event_type") === "purchase", 1)).as("np"),
          count(when(col("event_type") === "click", 1)).as("nn"))
      val w = Window.partitionBy("day").orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells
        .withColumn("below", sum("nn").over(w) - col("nn"))
        .groupBy("day")
        .agg(
          sum("np").as("n_pos"), sum("nn").as("n_neg"),
          sum(col("np") * (col("below") + col("nn") / lit(2.0))).as("s"))
        .filter(col("n_pos") > 0 && col("n_neg") > 0)
        .select(col("day"), col("n_pos"), col("n_neg"),
          // DOUBLE denominator: n_pos·n_neg overflows Long at ~3e9 rows/day
          round(col("s") / (col("n_pos").cast(DoubleType) * col("n_neg")), 6)
            .as("auc"))
        .orderBy("day")
    }),

    // Closed-form multivariate OLS per group: extendedprice on
    // (quantity, discount) via the 3×3 normal equations solved by
    // Cramer's rule. Cross-engine bit-exactness discipline: the nine
    // power sums are computed over EXACT integers (quantity, discount in
    // pct, price in cents — all integer-valued in this schema), so both
    // engines hold identical longs; the determinant algebra then runs in
    // DOUBLE on identical inputs (long³ products overflow int64) —
    // identical IEEE ops, bit-identical coefficients. One hash-aggregate
    // exchange; at uncapped scale the sums would switch to DECIMAL
    // accumulators, same shape.
    "ml_linreg_multi" -> ((s, dir) => {
      val x1 = floor(col("l_quantity")).cast(LongType)
      val x2 = round(col("l_discount") * 100, 0).cast(LongType)
      val y = round(col("l_extendedprice") * 100, 0).cast(LongType)
      def d(c: String) = col(c).cast(DoubleType)
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"), x1.as("x1"), x2.as("x2"), y.as("y"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum("x1").as("s1"), sum("x2").as("s2"), sum("y").as("sy"),
          sum(col("x1") * col("x1")).as("s11"),
          sum(col("x1") * col("x2")).as("s12"),
          sum(col("x2") * col("x2")).as("s22"),
          sum(col("x1") * col("y")).as("s1y"),
          sum(col("x2") * col("y")).as("s2y"))
        .withColumn("det",
          d("n") * (d("s11") * d("s22") - d("s12") * d("s12"))
            - d("s1") * (d("s1") * d("s22") - d("s12") * d("s2"))
            + d("s2") * (d("s1") * d("s12") - d("s11") * d("s2")))
        .withColumn("det0",
          d("sy") * (d("s11") * d("s22") - d("s12") * d("s12"))
            - d("s1") * (d("s1y") * d("s22") - d("s12") * d("s2y"))
            + d("s2") * (d("s1y") * d("s12") - d("s11") * d("s2y")))
        .withColumn("det1",
          d("n") * (d("s1y") * d("s22") - d("s12") * d("s2y"))
            - d("sy") * (d("s1") * d("s22") - d("s12") * d("s2"))
            + d("s2") * (d("s1") * d("s2y") - d("s1y") * d("s2")))
        .withColumn("det2",
          d("n") * (d("s11") * d("s2y") - d("s1y") * d("s12"))
            - d("s1") * (d("s1") * d("s2y") - d("s1y") * d("s2"))
            + d("sy") * (d("s1") * d("s12") - d("s11") * d("s2")))
        .select(col("l_returnflag"), col("n"),
          // back to dollars (the cents scaling divides out of b1/b2's
          // x-units, leaving the /100 y-rescale only)
          Tables.nz(round(col("det0") / col("det") / 100.0, 6)).as("intercept"),
          Tables.nz(round(col("det1") / col("det") / 100.0, 6)).as("b_quantity"),
          Tables.nz(round(col("det2") / col("det") / 100.0, 6)).as("b_discount_pct"))
        .orderBy("l_returnflag")
    }),

    // Distributed logistic-regression TRAINING — 8 rounds of full-batch
    // gradient descent predicting return status from standardized
    // (quantity, discount, tax). Each round is ONE mergeable aggregate
    // (four map-side-combined gradient means); the 4 weights are driver
    // metadata between rounds (the PageRank/PCA BSP discipline — never a
    // per-row weight join). Standardization moments accumulate as EXACT
    // integer power sums (cents discipline), so both engines standardize
    // from identical numbers; the oracle unrolls the identical 8 rounds
    // as chained MATERIALIZED CTEs. exp()/avg summation-order ulps
    // (~1e-16/round) are damped by the descent and vanish under round(6).
    // At 100 TB: T scans with map-side-combined 4-double partials — the
    // textbook distributed-GD shape, no state beyond the broadcast
    // weights.
    "ml_logreg_train" -> ((s, dir) => {
      val raw = Tables.lineitem(s, dir).select(
        when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("y"),
        floor(col("l_quantity")).cast(LongType).as("q"),
        round(col("l_discount") * 100, 0).cast(LongType).as("dd"),
        round(col("l_tax") * 100, 0).cast(LongType).as("tt"))
      val m = raw.agg(count(lit(1)).as("n"),
        sum("q").as("sq"), sum(col("q") * col("q")).as("sqq"),
        sum("dd").as("sd"), sum(col("dd") * col("dd")).as("sdd"),
        sum("tt").as("st"), sum(col("tt") * col("tt")).as("stt")).head
      val n = m.getLong(0).toDouble
      def muSd(s1: Long, s2: Long): (Double, Double) = {
        val mu = s1 / n; (mu, math.sqrt(s2 / n - mu * mu))
      }
      val (muQ, sdQ) = muSd(m.getLong(1), m.getLong(2))
      val (muD, sdD) = muSd(m.getLong(3), m.getLong(4))
      val (muT, sdT) = muSd(m.getLong(5), m.getLong(6))
      val z = OpCache.cached(dir,
        raw.select(col("y"),
          ((col("q") - lit(muQ)) / lit(sdQ)).as("z1"),
          ((col("dd") - lit(muD)) / lit(sdD)).as("z2"),
          ((col("tt") - lit(muT)) / lit(sdT)).as("z3")))
      val lr = 0.5
      var w = Array(0.0, 0.0, 0.0, 0.0)
      def prob(ws: Array[Double]) = {
        val zc = lit(ws(0)) + lit(ws(1)) * col("z1") +
          lit(ws(2)) * col("z2") + lit(ws(3)) * col("z3")
        lit(1.0) / (lit(1.0) + exp(-zc))
      }
      for (_ <- 1 to 8) {
        val r = prob(w) - col("y")
        val g = z.agg(avg(r), avg(r * col("z1")),
          avg(r * col("z2")), avg(r * col("z3"))).head
        w = Array.tabulate(4)(i => w(i) - lr * g.getDouble(i))
      }
      val p = prob(w)
      z.agg(count(lit(1)).as("n"),
          round(avg(-(col("y") * log(p) + (lit(1.0) - col("y")) * log(lit(1.0) - p))), 6)
            .as("log_loss"))
        .select(col("n"), Tables.nz(round(lit(w(0)), 6)).as("bias"),
          Tables.nz(round(lit(w(1)), 6)).as("w_quantity"),
          Tables.nz(round(lit(w(2)), 6)).as("w_discount"),
          Tables.nz(round(lit(w(3)), 6)).as("w_tax"),
          col("log_loss"))
    }),

    // Two-sample Kolmogorov–Smirnov statistic per day (ClickHouse
    // `kolmogorovSmirnovTest` analog): D = max_x |ECDF₁(x) − ECDF₂(x)|,
    // purchase-value vs click-value distributions. Same scale shape as
    // `agg_auc`: collapse to DISTINCT (day, value) cells first, then the
    // running ECDFs walk the cell table — the max-gap scan costs
    // |distinct scores| per day, never |rows|.
    "stat_ks_test" -> ((s, dir) => {
      val cells = Tables.events(s, dir)
        .filter(col("event_type").isin("purchase", "click"))
        .groupBy(to_date(col("ts")).as("day"), col("value"))
        .agg(
          count(when(col("event_type") === "purchase", 1)).as("np"),
          count(when(col("event_type") === "click", 1)).as("nn"))
      val w = Window.partitionBy("day").orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy("day")
      cells
        .withColumn("cp", sum("np").over(w))
        .withColumn("cn", sum("nn").over(w))
        .withColumn("n1", sum("np").over(tot))
        .withColumn("n2", sum("nn").over(tot))
        .filter(col("n1") > 0 && col("n2") > 0)
        .groupBy("day")
        .agg(
          max("n1").as("n_pos"), max("n2").as("n_neg"),
          round(max(abs(col("cp") / col("n1") - col("cn") / col("n2"))), 6)
            .as("ks_d"))
        .orderBy("day")
    }),

    // Mann–Whitney U with normal approximation per day (ClickHouse
    // `mannWhitneyUTest` analog). U falls out of the SAME tie-aware rank
    // sum as `agg_auc` (U = Σ np·(NN_below + nn/2)); z uses the
    // no-tie-correction variance n1·n2·(n1+n2+1)/12 — pinned identically
    // in the oracle, so the comparison is of algebra, not of engines'
    // library implementations.
    "stat_mann_whitney" -> ((s, dir) => {
      val cells = Tables.events(s, dir)
        .filter(col("event_type").isin("purchase", "click"))
        .groupBy(to_date(col("ts")).as("day"), col("value"))
        .agg(
          count(when(col("event_type") === "purchase", 1)).as("np"),
          count(when(col("event_type") === "click", 1)).as("nn"))
      val w = Window.partitionBy("day").orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells
        .withColumn("below", sum("nn").over(w) - col("nn"))
        .groupBy("day")
        .agg(
          sum("np").as("n1"), sum("nn").as("n2"),
          sum(col("np") * (col("below") + col("nn") / lit(2.0))).as("u"))
        .filter(col("n1") > 0 && col("n2") > 0)
        // n1·n2 in DOUBLE: the product overflows Long at ~3e9 rows/day
        .select(col("day"), col("n1"), col("n2"),
          round(col("u"), 6).as("u_stat"),
          Tables.nz(round((col("u") - col("n1").cast(DoubleType) * col("n2") / lit(2.0))
            / sqrt(col("n1").cast(DoubleType) * col("n2")
              * (col("n1") + col("n2") + 1) / lit(12.0)), 6)).as("z_score"))
        .orderBy("day")
    }),

    // Counter-reset-aware delta sum per user (ClickHouse `deltaSum`
    // analog): total of POSITIVE steps in the ts-ordered value series —
    // the monotonic-counter rate extraction where a drop means the counter
    // reset, not negative work. One keyed window exchange; per-row state
    // is a single lag.
    "agg_delta_sum" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .withColumn("delta", col("value") - lag("value", 1).over(w))
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_events"),
          round(coalesce(sum(when(col("delta") > 0, col("delta"))), lit(0.0)), 6)
            .as("delta_sum"),
          count(when(col("delta") < 0, 1)).as("n_resets"))
        .orderBy("user_id")
    }),

    // Per-order compounded discount factor — a product aggregate. Spark has
    // no product(); `exp(sum(ln))` is the mergeable formulation (DuckDB's
    // native product() is the oracle twin). Safe here: 1 + discount > 0.
    "agg_product" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_orderkey")
        .agg(
          count(lit(1)).as("n_items"),
          round(exp(sum(log(lit(1.0) + col("l_discount")))), 6)
            .as("disc_factor"))
        .orderBy("l_orderkey")
    }))

  def oracle: Map[String, String] = Map(
    "agg_entropy" ->
      """SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
        |       round(entropy(event_type), 6) + 0 AS entropy_bits
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,
    "agg_regression" ->
      """SELECT l_returnflag,
        |       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_pairs,
        |       round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
        |       round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
        |       round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        |       round(covar_samp(l_extendedprice, l_quantity), 6) AS covar_s,
        |       round(covar_pop(l_extendedprice, l_quantity), 6) AS covar_p
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "sample_stratified" ->
      """WITH r AS (
        |  SELECT event_id, event_type,
        |         CASE WHEN event_type IN ('purchase', 'signup') THEN 100
        |              WHEN event_type = 'error' THEN 50
        |              WHEN event_type = 'click' THEN 25
        |              ELSE 10 END AS rate
        |  FROM events)
        |SELECT event_id, event_type,
        |       round(CAST(100 AS DOUBLE) / rate, 6) AS weight
        |FROM r WHERE ((event_id % 2147483648) * 2654435761) % 100 < rate
        |ORDER BY event_id""".stripMargin,
    "sample_bottomk" ->
      """SELECT event_type, event_id, user_id, rk FROM (
        |  SELECT event_type, event_id, user_id,
        |         CAST(row_number() OVER (
        |           PARTITION BY event_type
        |           ORDER BY ((event_id % 2147483648) * 2654435761) % 1000000007, event_id)
        |           AS BIGINT) AS rk
        |  FROM events)
        |WHERE rk <= 8 ORDER BY event_type, rk""".stripMargin,
    "agg_moments" ->
      """WITH s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |         sum(l_quantity) AS s1,
        |         sum(l_quantity * l_quantity) AS s2,
        |         sum(l_quantity * l_quantity * l_quantity) AS s3,
        |         sum(l_quantity * l_quantity * l_quantity * l_quantity) AS s4
        |  FROM lineitem GROUP BY l_returnflag),
        |m AS (
        |  SELECT l_returnflag, n, s1 / n AS mean,
        |         s2 / n - (s1 / n) * (s1 / n) AS m2,
        |         s3 / n - 3.0 * (s1 / n) * (s2 / n)
        |           + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
        |         s4 / n - 4.0 * (s1 / n) * (s3 / n)
        |           + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
        |           - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
        |  FROM s)
        |SELECT l_returnflag, n, round(mean, 6) AS mean,
        |       round(m2, 6) AS var_pop,
        |       round(m3 / (m2 * sqrt(m2)), 6) + 0 AS skew_pop,
        |       round(m4 / (m2 * m2) - 3.0, 6) + 0 AS kurt_excess
        |FROM m ORDER BY l_returnflag""".stripMargin,
    "agg_weighted_median" ->
      """WITH x AS (
        |  SELECT l_returnflag, l_extendedprice,
        |         CAST(floor(l_quantity) AS BIGINT) AS w
        |  FROM lineitem),
        |c AS (
        |  SELECT l_returnflag, l_extendedprice,
        |         sum(w) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice
        |                      ROWS UNBOUNDED PRECEDING) AS cum,
        |         sum(w) OVER (PARTITION BY l_returnflag) AS tot
        |  FROM x)
        |SELECT l_returnflag, CAST(max(tot) AS BIGINT) AS total_w,
        |       min(l_extendedprice) AS wmedian
        |FROM c WHERE 2 * cum >= tot
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "profile_columns" ->
      """SELECT * FROM (
        |  SELECT 'l_quantity' AS column_name, count(*) AS n_rows,
        |         count(l_quantity) AS n_nonnull,
        |         count(DISTINCT l_quantity) AS n_distinct,
        |         min(l_quantity) AS min_value, max(l_quantity) AS max_value
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', count(*), count(l_extendedprice),
        |         count(DISTINCT l_extendedprice),
        |         min(l_extendedprice), max(l_extendedprice) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', count(*), count(l_discount),
        |         count(DISTINCT l_discount),
        |         min(l_discount), max(l_discount) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_tax', count(*), count(l_tax),
        |         count(DISTINCT l_tax), min(l_tax), max(l_tax) FROM lineitem
        |) ORDER BY column_name""".stripMargin,
    "agg_product" ->
      """SELECT l_orderkey, count(*) AS n_items,
        |       round(product(1 + l_discount), 6) AS disc_factor
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    // identical raw-sum algebra on both engines (never the engine's own
    // var_samp) — cross-engine noise is summation-order ulps « round(6)
    "stat_welch_ttest" ->
      """WITH s AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |         count(*) FILTER (event_type = 'purchase') AS n1,
        |         sum(value) FILTER (event_type = 'purchase') AS s1,
        |         sum(value * value) FILTER (event_type = 'purchase') AS q1,
        |         count(*) FILTER (event_type = 'click') AS n2,
        |         sum(value) FILTER (event_type = 'click') AS s2,
        |         sum(value * value) FILTER (event_type = 'click') AS q2
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT day, n1, n2, s1 / n1 AS m1, s2 / n2 AS m2,
        |         (q1 - s1 * s1 / n1) / (n1 - 1) / n1 AS se1,
        |         (q2 - s2 * s2 / n2) / (n2 - 1) / n2 AS se2
        |  FROM s WHERE n1 > 1 AND n2 > 1)
        |SELECT day, n1, n2,
        |       round(m1 - m2, 6) + 0 AS mean_diff,
        |       round((m1 - m2) / sqrt(se1 + se2), 6) + 0 AS t_stat,
        |       round((se1 + se2) * (se1 + se2)
        |             / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1)), 6)
        |         AS df_welch
        |FROM m ORDER BY day""".stripMargin,
    // exact integer counts; identical share/ln algebra; the zero-good /
    // zero-bad drop rule is pinned on both engines
    "ml_woe_iv" ->
      """WITH c AS (
        |  SELECT event_type,
        |         count(*) FILTER (value >= 100) AS n_good,
        |         count(*) FILTER (value < 100) AS n_bad
        |  FROM events GROUP BY 1
        |  HAVING count(*) FILTER (value >= 100) > 0
        |     AND count(*) FILTER (value < 100) > 0),
        |s AS (
        |  SELECT event_type, n_good, n_bad,
        |         CAST(n_good AS DOUBLE) / sum(n_good) OVER () AS gshare,
        |         CAST(n_bad AS DOUBLE) / sum(n_bad) OVER () AS bshare
        |  FROM c),
        |w AS (
        |  SELECT *, ln(gshare / bshare) AS woe,
        |         (gshare - bshare) * ln(gshare / bshare) AS iv_term
        |  FROM s)
        |SELECT event_type, n_good, n_bad,
        |       round(woe, 6) + 0 AS woe,
        |       round(iv_term, 6) + 0 AS iv_term,
        |       round(sum(iv_term) OVER (), 6) AS iv_total
        |FROM w ORDER BY event_type""".stripMargin,
    // same exact-integer power sums as agg_moments; verdict compares the
    // identical unrounded JB on both engines against the χ²(2) literal
    "stat_jarque_bera" ->
      """WITH s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |         sum(l_quantity) AS s1,
        |         sum(l_quantity * l_quantity) AS s2,
        |         sum(l_quantity * l_quantity * l_quantity) AS s3,
        |         sum(l_quantity * l_quantity * l_quantity * l_quantity) AS s4
        |  FROM lineitem GROUP BY l_returnflag),
        |m AS (
        |  SELECT l_returnflag, n, s1 / n AS mean,
        |         s2 / n - (s1 / n) * (s1 / n) AS m2,
        |         s3 / n - 3.0 * (s1 / n) * (s2 / n)
        |           + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
        |         s4 / n - 4.0 * (s1 / n) * (s3 / n)
        |           + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
        |           - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
        |  FROM s),
        |k AS (
        |  SELECT l_returnflag, n,
        |         m3 / (m2 * sqrt(m2)) AS skew,
        |         m4 / (m2 * m2) - 3.0 AS kurt
        |  FROM m)
        |SELECT l_returnflag, n,
        |       round(skew, 6) + 0 AS skew_pop,
        |       round(kurt, 6) + 0 AS kurt_excess,
        |       round(n / 6.0 * (skew * skew + kurt * kurt / 4.0), 6) AS jb_stat,
        |       n / 6.0 * (skew * skew + kurt * kurt / 4.0) > 5.99
        |         AS reject_normal
        |FROM k ORDER BY l_returnflag""".stripMargin,
    // the single-pass folded AD formulation with the shared
    // Abramowitz–Stegun erfc polynomial (stat_fdr_bh literals)
    "stat_anderson_darling" ->
      """WITH b AS (
        |  SELECT CAST(ts AS DATE) AS day, value, event_id,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |w AS (
        |  SELECT day, value, event_id,
        |         count(*) OVER d AS n,
        |         sum(CAST(c AS HUGEINT)) OVER d AS svc,
        |         sum(CAST(c * c AS HUGEINT)) OVER d AS sq4
        |  FROM b WINDOW d AS (PARTITION BY day)),
        |z AS (
        |  SELECT day, value, event_id, n,
        |         CAST(svc AS DOUBLE) / (100.0 * n) AS mu,
        |         sqrt(CAST(n * sq4 - svc * svc AS DOUBLE)
        |              / CAST(10000 * CAST(n AS HUGEINT) * (n - 1) AS DOUBLE))
        |           AS sd
        |  FROM w WHERE n > 7),
        |r AS (
        |  SELECT day, n,
        |         CAST(row_number() OVER (PARTITION BY day
        |                                 ORDER BY value, event_id) AS DOUBLE) AS i,
        |         (value - mu) / sd AS zz
        |  FROM z WHERE sd > 0),
        |p AS (
        |  SELECT day, n, i,
        |         least(greatest(CASE WHEN zz >= 0 THEN 1.0 - erfc / 2
        |                             ELSE erfc / 2 END,
        |                        1e-15), 0.999999999999999) AS p
        |  FROM (SELECT *,
        |               ((((1.061405429 * t + -1.453152027) * t
        |                  + 1.421413741) * t + -0.284496736) * t
        |                + 0.254829592) * t * exp(-x * x) AS erfc
        |        FROM (SELECT *, 1e0 / (1e0 + 0.3275911 * x) AS t
        |              FROM (SELECT *, abs(zz) / sqrt(2e0) AS x FROM r)))),
        |g AS (
        |  SELECT day, CAST(max(n) AS BIGINT) AS n,
        |         sum(CAST(((2.0 * i - 1) * ln(p)
        |                   + (2.0 * n - 2.0 * i + 1) * ln(1.0 - p))
        |                  * 1e16 AS HUGEINT)) AS s0
        |  FROM p GROUP BY day),
        |f AS (
        |  SELECT day, n,
        |         -CAST(n AS HUGEINT) * n * 10000000000000000 - s0 AS pnum,
        |         CAST(n AS HUGEINT) * 10000000000000000 AS den
        |  FROM g)
        |SELECT day, n,
        |       CAST(CASE WHEN pnum >= 0
        |                 THEN (2 * pnum * 1000000 + den) // (2 * den)
        |                 ELSE -((2 * (-pnum) * 1000000 + den) // (2 * den))
        |            END AS DOUBLE) / 1e6 AS a2_stat,
        |       CAST(CASE WHEN pnum >= 0
        |                 THEN (2 * pnum * 1000000 + den) // (2 * den)
        |                 ELSE -((2 * (-pnum) * 1000000 + den) // (2 * den))
        |            END AS DOUBLE) / 1e6 > 0.752 AS reject_normal
        |FROM f ORDER BY day""".stripMargin,
    // same raw group sums as stat_anova; pairs from the tiny group table
    "stat_tukey_hsd" ->
      """WITH g AS (
        |  SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
        |         sum(value) AS s, sum(value * value) AS q
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT sum(n) AS nn, CAST(count(*) AS DOUBLE) AS k,
        |         sum(q - s * s / n) AS ssw
        |  FROM g),
        |m AS (SELECT *, ssw / (nn - k) AS msw FROM t),
        |p AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         a.n AS na, b.n AS nb,
        |         a.s / a.n AS ma, b.s / b.n AS mb
        |  FROM g a JOIN g b ON a.event_type < b.event_type),
        |w AS (
        |  SELECT type_a, type_b, ma, mb,
        |         round(abs(ma - mb)
        |               / sqrt(m.msw / 2 * (1.0 / na + 1.0 / nb)), 6) AS q_stat
        |  FROM p CROSS JOIN m)
        |SELECT type_a, type_b,
        |       round(ma - mb, 6) + 0 AS mean_diff,
        |       q_stat, q_stat > 3.858 AS significant
        |FROM w ORDER BY type_a, type_b""".stripMargin,
    // exact medians (percentile ≡ quantile_cont), identical sums-only W
    "stat_levene" ->
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1),
        |z AS (
        |  SELECT e.event_type, abs(e.value - m.med) AS z
        |  FROM events e JOIN med m USING (event_type)),
        |g AS (
        |  SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
        |         sum(z) AS s, sum(z * z) AS q
        |  FROM z GROUP BY 1),
        |a AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS k, sum(n) AS nn, sum(s) AS ts,
        |         sum(s * s / n) AS bsum,
        |         sum(q - s * s / n) AS wss
        |  FROM g)
        |SELECT CAST(k AS BIGINT) AS k_groups, CAST(nn AS BIGINT) AS n_obs,
        |       round((nn - k) / (k - 1) * (bsum - ts * ts / nn) / wss, 6)
        |         AS w_stat
        |FROM a""".stripMargin,
    // identical pooled-variance raw-sum algebra on both engines
    "stat_student_ttest" ->
      """WITH s AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |         count(*) FILTER (event_type = 'purchase') AS n1,
        |         sum(value) FILTER (event_type = 'purchase') AS s1,
        |         sum(value * value) FILTER (event_type = 'purchase') AS q1,
        |         count(*) FILTER (event_type = 'click') AS n2,
        |         sum(value) FILTER (event_type = 'click') AS s2,
        |         sum(value * value) FILTER (event_type = 'click') AS q2
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT day, n1, n2, s1 / n1 AS m1, s2 / n2 AS m2,
        |         ((q1 - s1 * s1 / n1) + (q2 - s2 * s2 / n2))
        |           / (n1 + n2 - 2) AS sp2
        |  FROM s WHERE n1 > 1 AND n2 > 1)
        |SELECT day, n1, n2,
        |       round(m1 - m2, 6) + 0 AS mean_diff,
        |       round((m1 - m2) / sqrt(sp2 * (1.0 / n1 + 1.0 / n2)), 6) + 0
        |         AS t_stat,
        |       n1 + n2 - 2 AS df
        |FROM m ORDER BY day""".stripMargin,
    "qa_constraints" ->
      """WITH checks AS (
        |  SELECT 'orders_pk_unique' AS constraint_name,
        |         count(*) - count(DISTINCT o_orderkey) AS violations
        |  FROM orders
        |  UNION ALL
        |  SELECT 'lineitem_orderkey_in_orders',
        |         count(*) FILTER (o_orderkey IS NULL)
        |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  UNION ALL
        |  SELECT 'orders_custkey_in_customer',
        |         count(*) FILTER (c_custkey IS NULL)
        |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |  UNION ALL
        |  SELECT 'lineitem_shipdate_not_null',
        |         count(*) FILTER (l_shipdate IS NULL) FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem_discount_in_range',
        |         count(*) FILTER (l_discount < 0 OR l_discount > 0.1)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem_returnflag_accepted',
        |         count(*) FILTER (l_returnflag NOT IN ('A', 'N', 'R'))
        |  FROM lineitem)
        |SELECT constraint_name, CAST(violations AS BIGINT) AS violations
        |FROM checks ORDER BY constraint_name""".stripMargin,
    "stat_chi2_gof" ->
      """WITH tt AS (
        |  SELECT event_type, count(*) AS c FROM events GROUP BY 1),
        |pt AS (
        |  SELECT event_type,
        |         CAST(c AS DOUBLE) / CAST((SELECT sum(c) FROM tt) AS DOUBLE) AS p
        |  FROM tt),
        |daily AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS o
        |  FROM events GROUP BY 1, 2),
        |dt AS (SELECT day, sum(o) AS n_day FROM daily GROUP BY day),
        |terms AS (
        |  SELECT dt.day, dt.n_day, pt.event_type,
        |         COALESCE(d.o, 0) AS o, CAST(dt.n_day AS DOUBLE) * pt.p AS e
        |  FROM dt CROSS JOIN pt
        |  LEFT JOIN daily d ON d.day = dt.day AND d.event_type = pt.event_type),
        |f AS (
        |  SELECT day, CAST(max(n_day) AS BIGINT) AS n_day, count(*) AS k,
        |         list_reduce(
        |           list((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e
        |                ORDER BY event_type),
        |           (a, b) -> a + b) AS chi2
        |  FROM terms GROUP BY day)
        |SELECT day, n_day, CAST(k - 1 AS BIGINT) AS dof,
        |       round(chi2, 6) AS chi2,
        |       CASE WHEN k = 5 THEN round(chi2, 6) > 9.487729 END AS reject_05,
        |       CASE WHEN k = 5 THEN round(chi2, 6) > 13.276704 END AS reject_01
        |FROM f ORDER BY day""".stripMargin,
    "stat_mean_ztest" ->
      """WITH pop AS (
        |  SELECT CAST(count(*) FILTER (event_type = 'purchase') AS DOUBLE) AS pn1,
        |         CAST(sum(CAST(value AS DECIMAL(18,2)))
        |              FILTER (event_type = 'purchase') AS DOUBLE) AS ps1,
        |         CAST(sum(CAST(value * value AS DECIMAL(28,4)))
        |              FILTER (event_type = 'purchase') AS DOUBLE) AS pq1,
        |         CAST(count(*) FILTER (event_type = 'click') AS DOUBLE) AS pn2,
        |         CAST(sum(CAST(value AS DECIMAL(18,2)))
        |              FILTER (event_type = 'click') AS DOUBLE) AS ps2,
        |         CAST(sum(CAST(value * value AS DECIMAL(28,4)))
        |              FILTER (event_type = 'click') AS DOUBLE) AS pq2
        |  FROM events),
        |pv AS (
        |  SELECT pq1 / pn1 - (ps1 / pn1) * (ps1 / pn1) AS var1,
        |         pq2 / pn2 - (ps2 / pn2) * (ps2 / pn2) AS var2
        |  FROM pop),
        |d AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |         count(*) FILTER (event_type = 'purchase') AS n1,
        |         CAST(sum(CAST(value AS DECIMAL(18,2)))
        |              FILTER (event_type = 'purchase') AS DOUBLE) AS s1,
        |         count(*) FILTER (event_type = 'click') AS n2,
        |         CAST(sum(CAST(value AS DECIMAL(18,2)))
        |              FILTER (event_type = 'click') AS DOUBLE) AS s2
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT day, n1, n2, s1 / n1 - s2 / n2 AS diff,
        |         sqrt(var1 / n1 + var2 / n2) AS se
        |  FROM d CROSS JOIN pv WHERE n1 > 0 AND n2 > 0)
        |SELECT day, n1, n2,
        |       round(diff, 6) + 0 AS mean_diff,
        |       round(diff / se, 6) + 0 AS z_stat,
        |       round(diff - 1.959964 * se, 6) + 0 AS ci_lo,
        |       round(diff + 1.959964 * se, 6) + 0 AS ci_hi
        |FROM m ORDER BY day""".stripMargin,
    "stat_cramers_v_corrected" ->
      """WITH cells AS (
        |  SELECT event_type, isodow(ts) AS dow,
        |         CAST(count(*) AS DOUBLE) AS o
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT sum(o) AS tot,
        |         CAST(count(DISTINCT event_type) AS DOUBLE) AS r,
        |         CAST(count(DISTINCT dow) AS DOUBLE) AS c
        |  FROM cells),
        |x AS (
        |  SELECT o,
        |         sum(o) OVER (PARTITION BY event_type) AS rt,
        |         sum(o) OVER (PARTITION BY dow) AS ct
        |  FROM cells),
        |a AS (
        |  SELECT max(tot) AS n, max(r) AS r, max(c) AS c,
        |         sum((o - rt * ct / tot) * (o - rt * ct / tot)
        |             / (rt * ct / tot)) AS chi2
        |  FROM x CROSS JOIN t),
        |b AS (
        |  SELECT *, chi2 / n AS phi2,
        |         greatest(0.0, chi2 / n - (r - 1) * (c - 1) / (n - 1)) AS phi2c,
        |         r - (r - 1) * (r - 1) / (n - 1) AS rc,
        |         c - (c - 1) * (c - 1) / (n - 1) AS cc
        |  FROM a)
        |SELECT CAST(n AS BIGINT) AS n_events,
        |       round(chi2, 6) AS chi2,
        |       round(sqrt(phi2 / (least(r, c) - 1)), 6) AS v_raw,
        |       round(sqrt(phi2c / (least(rc, cc) - 1)), 6) AS v_corrected
        |FROM b""".stripMargin,
    "stat_association_coeffs" ->
      """WITH cells AS (
        |  SELECT event_type, isodow(ts) AS dow,
        |         CAST(count(*) AS DOUBLE) AS o
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT sum(o) AS tot,
        |         CAST(count(DISTINCT event_type) AS DOUBLE) AS r,
        |         CAST(count(DISTINCT dow) AS DOUBLE) AS c
        |  FROM cells),
        |x AS (
        |  SELECT o,
        |         sum(o) OVER (PARTITION BY event_type) AS rt,
        |         sum(o) OVER (PARTITION BY dow) AS ct
        |  FROM cells),
        |a AS (
        |  SELECT max(tot) AS n, max(r) AS r, max(c) AS c,
        |         sum((o - rt * ct / tot) * (o - rt * ct / tot)
        |             / (rt * ct / tot)) AS chi2
        |  FROM x CROSS JOIN t)
        |SELECT CAST(n AS BIGINT) AS n_events,
        |       round(sqrt(chi2 / n), 6) AS phi,
        |       round(sqrt(chi2 / (chi2 + n)), 6) AS contingency_c,
        |       round(sqrt(chi2 / n / sqrt((r - 1) * (c - 1))), 6)
        |         AS tschuprow_t
        |FROM a""".stripMargin,
    // same per-user definitions as stat_ab_proportions / stat_cuped; the
    // normal quantiles are shared literals so the scalar trees match
    "stat_min_sample_size" ->
      """WITH u AS (
        |  SELECT user_id,
        |         max(CASE WHEN event_type = 'purchase' AND value >= 100
        |             THEN 1 ELSE 0 END) AS conv,
        |         CAST(coalesce(sum(CAST(value AS DECIMAL(18,2))), 0)
        |              AS DECIMAL(18,2)) AS y
        |  FROM events GROUP BY user_id),
        |a AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |         CAST(sum(conv) AS DOUBLE) AS c,
        |         CAST(sum(y) AS DOUBLE) AS sy,
        |         CAST(sum(y * y) AS DOUBLE) AS qy
        |  FROM u),
        |b AS (
        |  SELECT n, c / n AS p1, c / n + 0.02 AS p2, sy / n AS my,
        |         (qy - sy * sy / n) / (n - 1) AS vy
        |  FROM a),
        |z AS (SELECT 1.9599639845400545 + 0.8416212335729143 AS zs)
        |SELECT CAST(n AS BIGINT) AS n_users,
        |       round(p1, 6) AS p_base,
        |       CAST(ceil(zs * zs * (p1 * (1.0 - p1) + p2 * (1.0 - p2))
        |                 / (0.02 * 0.02)) AS BIGINT)
        |         AS n_per_arm_conversion,
        |       round(my, 6) AS mean_y,
        |       round(sqrt(vy), 6) AS sd_y,
        |       CAST(ceil(2.0 * zs * zs * vy
        |                 / (0.05 * my * 0.05 * my)) AS BIGINT)
        |         AS n_per_arm_continuous
        |FROM b CROSS JOIN z""".stripMargin,
    "profile_key_skew" ->
      """WITH cu AS (
        |  SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS n
        |  FROM events GROUP BY 1),
        |ru AS (
        |  SELECT n, CAST(row_number() OVER (ORDER BY n, k) AS DOUBLE) AS i,
        |         row_number() OVER (ORDER BY n DESC, k) AS j
        |  FROM cu),
        |ce AS (
        |  SELECT CAST(event_type AS VARCHAR) AS k, count(*) AS n
        |  FROM events GROUP BY 1),
        |re AS (
        |  SELECT n, CAST(row_number() OVER (ORDER BY n, k) AS DOUBLE) AS i,
        |         row_number() OVER (ORDER BY n DESC, k) AS j
        |  FROM ce)
        |SELECT * FROM (
        |  SELECT 'user_id' AS key_name, CAST(count(*) AS BIGINT) AS n_keys,
        |         CAST(sum(n) AS BIGINT) AS total_rows,
        |         round(CAST(max(n) AS DOUBLE) / sum(n), 6) AS top1_share,
        |         round(CAST(sum(CASE WHEN j <= 10 THEN n END) AS DOUBLE)
        |               / sum(n), 6) AS top10_share,
        |         round(2.0 * sum(i * n)
        |               / (CAST(count(*) AS DOUBLE) * CAST(sum(n) AS DOUBLE))
        |               - CAST(count(*) + 1 AS DOUBLE) / count(*), 6) AS gini,
        |         round(quantile_cont(n, 0.5), 6) AS p50,
        |         round(quantile_cont(n, 0.99), 6) AS p99
        |  FROM ru
        |  UNION ALL
        |  SELECT 'event_type', CAST(count(*) AS BIGINT),
        |         CAST(sum(n) AS BIGINT),
        |         round(CAST(max(n) AS DOUBLE) / sum(n), 6),
        |         round(CAST(sum(CASE WHEN j <= 10 THEN n END) AS DOUBLE)
        |               / sum(n), 6),
        |         round(2.0 * sum(i * n)
        |               / (CAST(count(*) AS DOUBLE) * CAST(sum(n) AS DOUBLE))
        |               - CAST(count(*) + 1 AS DOUBLE) / count(*), 6),
        |         round(quantile_cont(n, 0.5), 6),
        |         round(quantile_cont(n, 0.99), 6)
        |  FROM re)
        |ORDER BY key_name""".stripMargin,
    "ml_target_encode" ->
      """WITH c AS (
        |  SELECT event_type, count(*) AS n_c, sum(value) AS s_c
        |  FROM events GROUP BY 1),
        |g AS (SELECT sum(value) / count(*) AS gmean FROM events)
        |SELECT e.event_id, e.event_type,
        |       round((c.s_c - e.value) / (c.n_c - 1), 6) AS te_loo,
        |       round((c.s_c - e.value + 10 * g.gmean) / (c.n_c - 1 + 10), 6)
        |         AS te_smooth
        |FROM events e JOIN c USING (event_type) CROSS JOIN g
        |WHERE c.n_c > 1
        |ORDER BY e.event_id""".stripMargin,
    "stat_anova" ->
      """WITH g AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type,
        |         CAST(count(*) AS DOUBLE) AS n,
        |         sum(CAST(value AS DECIMAL(18,2))) AS sdec,
        |         sum(CAST(value * value AS DECIMAL(28,4))) AS qdec
        |  FROM events GROUP BY 1, 2),
        |d AS (
        |  SELECT day, count(*) AS k_groups, sum(n) AS nd,
        |         CAST(sum(sdec) AS DOUBLE) AS sd,
        |         CAST(sum(qdec) AS DOUBLE) AS qd,
        |         list_reduce(
        |           list(CAST(sdec AS DOUBLE) * CAST(sdec AS DOUBLE) / n
        |                ORDER BY event_type),
        |           (a, b) -> a + b) AS bsum
        |  FROM g GROUP BY day
        |  HAVING count(*) > 1 AND sum(n) > count(*)),
        |e AS (
        |  SELECT day, k_groups, nd,
        |         bsum - sd * sd / nd AS ssb, qd - bsum AS ssw
        |  FROM d)
        |SELECT day, k_groups, CAST(nd AS BIGINT) AS n_obs,
        |       round(ssb, 6) AS ss_between, round(ssw, 6) AS ss_within,
        |       round((ssb / (k_groups - 1)) / (ssw / (nd - k_groups)), 6)
        |         AS f_stat,
        |       round(ssb / (ssb + ssw), 6) AS eta_sq
        |FROM e ORDER BY day""".stripMargin,
    "stat_fdr_bh" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         CAST(count(*) AS DOUBLE) AS n
        |  FROM events GROUP BY 1, 2),
        |d2 AS (SELECT *, CAST(isodow(day) AS BIGINT) AS dow FROM daily),
        |prof AS (
        |  SELECT event_type, dow, count(*) AS k, sum(n) AS s, sum(n * n) AS q
        |  FROM d2 GROUP BY 1, 2 HAVING count(*) > 1),
        |p2 AS (
        |  SELECT event_type, dow, s / k AS mu,
        |         sqrt((q - s * s / k) / (k - 1)) AS sd
        |  FROM prof WHERE sqrt((q - s * s / k) / (k - 1)) > 0),
        |z AS (
        |  SELECT d2.event_type, d2.day,
        |         round((d2.n - mu) / sd, 6) + 0 AS z
        |  FROM d2 JOIN p2 USING (event_type, dow)),
        |pv AS (
        |  SELECT event_type, day, z,
        |         round(((((1.061405429 * t + -1.453152027) * t
        |                  + 1.421413741) * t + -0.284496736) * t
        |                + 0.254829592) * t * exp(-x * x), 6) AS p_value
        |  FROM (SELECT *, 1e0 / (1e0 + 0.3275911 * x) AS t
        |        FROM (SELECT *, abs(z) / sqrt(2e0) AS x FROM z))),
        |rk AS (
        |  SELECT *,
        |         CAST(row_number() OVER (ORDER BY p_value, event_type, day)
        |              AS BIGINT) AS rank,
        |         CAST(count(*) OVER () AS BIGINT) AS m
        |  FROM pv),
        |km AS (
        |  SELECT *, max(CASE WHEN p_value <= rank * 0.05e0 / m
        |                THEN rank END) OVER () AS k_max
        |  FROM rk)
        |SELECT event_type, day, z, p_value, rank, m,
        |       rank <= COALESCE(k_max, 0) AS significant
        |FROM km ORDER BY event_type, day""".stripMargin,
    // exact-decimal rank keys + doubled integer ranks + exact integer
    // moments (see builder comment)
    "stat_spearman" ->
      """WITH u AS (
        |  SELECT user_id, count(*) AS freq,
        |         sum(CAST(value AS DECIMAL(18,2))) AS monetary
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |r AS (
        |  SELECT user_id,
        |         2 * rank() OVER (ORDER BY freq)
        |           + count(*) OVER (PARTITION BY freq) - 1 AS rx,
        |         2 * rank() OVER (ORDER BY monetary)
        |           + count(*) OVER (PARTITION BY monetary) - 1 AS ry
        |  FROM u)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |       round(CAST(count(*) * sum(rx * ry) - sum(rx) * sum(ry) AS DOUBLE)
        |             / sqrt(CAST(count(*) * sum(rx * rx)
        |                         - sum(rx) * sum(rx) AS DOUBLE)
        |                    * CAST(count(*) * sum(ry * ry)
        |                           - sum(ry) * sum(ry) AS DOUBLE)),
        |             6) + 0 AS rho_spearman
        |FROM r""".stripMargin,
    "stat_cramers_v" ->
      """WITH cells AS (
        |  SELECT event_type, isodow(ts) AS dow,
        |         CAST(count(*) AS DOUBLE) AS o
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT sum(o) AS tot, count(DISTINCT event_type) AS r,
        |         count(DISTINCT dow) AS c
        |  FROM cells),
        |x AS (
        |  SELECT o,
        |         sum(o) OVER (PARTITION BY event_type) AS rt,
        |         sum(o) OVER (PARTITION BY dow) AS ct
        |  FROM cells)
        |SELECT CAST(max(tot) AS BIGINT) AS n_events,
        |       CAST(max(r) AS BIGINT) AS n_types,
        |       CAST(max(c) AS BIGINT) AS n_days,
        |       round(sum((o - rt * ct / tot) * (o - rt * ct / tot)
        |                 / (rt * ct / tot)), 6) AS chi2,
        |       round(sqrt(sum((o - rt * ct / tot) * (o - rt * ct / tot)
        |                      / (rt * ct / tot))
        |                  / max(tot) / (least(max(r), max(c)) - 1)), 6)
        |         AS cramers_v
        |FROM x CROSS JOIN t""".stripMargin,
    "agg_auc" ->
      """WITH cells AS (
        |  SELECT CAST(ts AS DATE) AS day, value,
        |         count(*) FILTER (event_type = 'purchase') AS np,
        |         count(*) FILTER (event_type = 'click') AS nn
        |  FROM events WHERE event_type IN ('purchase', 'click')
        |  GROUP BY 1, 2),
        |w AS (
        |  SELECT day, np, nn,
        |         sum(nn) OVER (PARTITION BY day ORDER BY value
        |                       ROWS UNBOUNDED PRECEDING) - nn AS below
        |  FROM cells)
        |SELECT day, CAST(sum(np) AS BIGINT) AS n_pos,
        |       CAST(sum(nn) AS BIGINT) AS n_neg,
        |       round(sum(np * (below + nn / 2.0))
        |             / (sum(np) * sum(nn)), 6) AS auc
        |FROM w GROUP BY day
        |HAVING sum(np) > 0 AND sum(nn) > 0
        |ORDER BY day""".stripMargin,
    // identical exact-integer sums then identical DOUBLE Cramer algebra —
    // bit-identical coefficients, round(6) is belt-and-braces
    "ml_linreg_multi" ->
      """WITH r AS (
        |  SELECT l_returnflag,
        |         CAST(floor(l_quantity) AS BIGINT) AS x1,
        |         CAST(round(l_discount * 100, 0) AS BIGINT) AS x2,
        |         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
        |  FROM lineitem),
        |s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |         CAST(sum(x1) AS DOUBLE) AS s1, CAST(sum(x2) AS DOUBLE) AS s2,
        |         CAST(sum(y) AS DOUBLE) AS sy,
        |         CAST(sum(x1 * x1) AS DOUBLE) AS s11,
        |         CAST(sum(x1 * x2) AS DOUBLE) AS s12,
        |         CAST(sum(x2 * x2) AS DOUBLE) AS s22,
        |         CAST(sum(x1 * y) AS DOUBLE) AS s1y,
        |         CAST(sum(x2 * y) AS DOUBLE) AS s2y
        |  FROM r GROUP BY l_returnflag),
        |d AS (
        |  SELECT l_returnflag, n,
        |         CAST(n AS DOUBLE) * (s11 * s22 - s12 * s12)
        |           - s1 * (s1 * s22 - s12 * s2)
        |           + s2 * (s1 * s12 - s11 * s2) AS det,
        |         sy * (s11 * s22 - s12 * s12)
        |           - s1 * (s1y * s22 - s12 * s2y)
        |           + s2 * (s1y * s12 - s11 * s2y) AS det0,
        |         CAST(n AS DOUBLE) * (s1y * s22 - s12 * s2y)
        |           - sy * (s1 * s22 - s12 * s2)
        |           + s2 * (s1 * s2y - s1y * s2) AS det1,
        |         CAST(n AS DOUBLE) * (s11 * s2y - s1y * s12)
        |           - s1 * (s1 * s2y - s1y * s2)
        |           + sy * (s1 * s12 - s11 * s2) AS det2
        |  FROM s)
        |SELECT l_returnflag, n,
        |       round(det0 / det / 100.0, 6) + 0 AS intercept,
        |       round(det1 / det / 100.0, 6) + 0 AS b_quantity,
        |       round(det2 / det / 100.0, 6) + 0 AS b_discount_pct
        |FROM d ORDER BY l_returnflag""".stripMargin,
    // the IDENTICAL 8 gradient-descent rounds the Spark side drives with
    // driver-held weights, unrolled as chained MATERIALIZED CTEs (the
    // graph_pagerank / embed_pca_project oracle pattern — z is scanned by
    // every round, so inlining would re-evaluate it 8×); descent damps
    // exp()/summation-order ulps « round(6)
    "ml_logreg_train" -> {
      val rounds = (1 to 8).map { k =>
        s"""g$k AS MATERIALIZED (
           |  SELECT avg(p - y) AS gb, avg((p - y) * z1) AS g1,
           |         avg((p - y) * z2) AS g2, avg((p - y) * z3) AS g3
           |  FROM (SELECT y, z1, z2, z3,
           |               1.0 / (1.0 + exp(-(b + w1 * z1 + w2 * z2 + w3 * z3))) AS p
           |        FROM z CROSS JOIN wi${k - 1})),
           |wi$k AS (
           |  SELECT b - 0.5 * gb AS b, w1 - 0.5 * g1 AS w1,
           |         w2 - 0.5 * g2 AS w2, w3 - 0.5 * g3 AS w3
           |  FROM wi${k - 1} CROSS JOIN g$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH raw AS MATERIALIZED (
         |  SELECT CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y,
         |         CAST(floor(l_quantity) AS BIGINT) AS q,
         |         CAST(round(l_discount * 100, 0) AS BIGINT) AS dd,
         |         CAST(round(l_tax * 100, 0) AS BIGINT) AS tt
         |  FROM lineitem),
         |m AS MATERIALIZED (
         |  SELECT CAST(count(*) AS DOUBLE) AS n,
         |         sum(q) AS sq, sum(q * q) AS sqq,
         |         sum(dd) AS sd, sum(dd * dd) AS sdd,
         |         sum(tt) AS st, sum(tt * tt) AS stt
         |  FROM raw),
         |z AS MATERIALIZED (
         |  SELECT y,
         |         (q - sq / n) / sqrt(sqq / n - (sq / n) * (sq / n)) AS z1,
         |         (dd - sd / n) / sqrt(sdd / n - (sd / n) * (sd / n)) AS z2,
         |         (tt - st / n) / sqrt(stt / n - (st / n) * (st / n)) AS z3
         |  FROM raw CROSS JOIN m),
         |wi0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3),
         |$rounds
         |SELECT (SELECT count(*) FROM z) AS n,
         |       round(b, 6) + 0 AS bias, round(w1, 6) + 0 AS w_quantity,
         |       round(w2, 6) + 0 AS w_discount, round(w3, 6) + 0 AS w_tax,
         |       (SELECT round(avg(-(y * ln(p) + (1.0 - y) * ln(1.0 - p))), 6)
         |        FROM (SELECT y,
         |                     1.0 / (1.0 + exp(-(wi8.b + wi8.w1 * z1
         |                                        + wi8.w2 * z2 + wi8.w3 * z3))) AS p
         |              FROM z CROSS JOIN wi8)) AS log_loss
         |FROM wi8""".stripMargin
    },
    "stat_ks_test" ->
      """WITH cells AS (
        |  SELECT CAST(ts AS DATE) AS day, value,
        |         count(*) FILTER (event_type = 'purchase') AS np,
        |         count(*) FILTER (event_type = 'click') AS nn
        |  FROM events WHERE event_type IN ('purchase', 'click')
        |  GROUP BY 1, 2),
        |w AS (
        |  SELECT day,
        |         sum(np) OVER (PARTITION BY day ORDER BY value
        |                       ROWS UNBOUNDED PRECEDING) AS cp,
        |         sum(nn) OVER (PARTITION BY day ORDER BY value
        |                       ROWS UNBOUNDED PRECEDING) AS cn,
        |         sum(np) OVER (PARTITION BY day) AS n1,
        |         sum(nn) OVER (PARTITION BY day) AS n2
        |  FROM cells)
        |SELECT day, CAST(max(n1) AS BIGINT) AS n_pos,
        |       CAST(max(n2) AS BIGINT) AS n_neg,
        |       round(max(abs(CAST(cp AS DOUBLE) / n1
        |                     - CAST(cn AS DOUBLE) / n2)), 6) AS ks_d
        |FROM w WHERE n1 > 0 AND n2 > 0
        |GROUP BY day ORDER BY day""".stripMargin,
    "stat_mann_whitney" ->
      """WITH cells AS (
        |  SELECT CAST(ts AS DATE) AS day, value,
        |         count(*) FILTER (event_type = 'purchase') AS np,
        |         count(*) FILTER (event_type = 'click') AS nn
        |  FROM events WHERE event_type IN ('purchase', 'click')
        |  GROUP BY 1, 2),
        |w AS (
        |  SELECT day, np, nn,
        |         sum(nn) OVER (PARTITION BY day ORDER BY value
        |                       ROWS UNBOUNDED PRECEDING) - nn AS below
        |  FROM cells)
        |SELECT day, CAST(sum(np) AS BIGINT) AS n1,
        |       CAST(sum(nn) AS BIGINT) AS n2,
        |       round(sum(np * (below + nn / 2.0)), 6) AS u_stat,
        |       round((sum(np * (below + nn / 2.0))
        |              - sum(np) * sum(nn) / 2.0)
        |             / sqrt(sum(np) * sum(nn)
        |                    * (sum(np) + sum(nn) + 1) / 12.0), 6) + 0 AS z_score
        |FROM w GROUP BY day
        |HAVING sum(np) > 0 AND sum(nn) > 0
        |ORDER BY day""".stripMargin,
    "agg_delta_sum" ->
      """WITH d AS (
        |  SELECT user_id,
        |         value - lag(value) OVER (PARTITION BY user_id
        |                                  ORDER BY ts, event_id) AS delta
        |  FROM events)
        |SELECT user_id, count(*) AS n_events,
        |       round(coalesce(sum(delta) FILTER (delta > 0), 0), 6)
        |         AS delta_sum,
        |       count(*) FILTER (delta < 0) AS n_resets
        |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin,
    // per-user x/y kept DECIMAL(18,2) so every moment sum is exact on both
    // engines; the scalar algebra mirrors the Spark expression tree node
    // for node (theta and x-bar rounded to 6 dp BEFORE the adjustment)
    "stat_cuped" ->
      """WITH span AS (
        |  SELECT min(CAST(ts AS DATE))
        |         + CAST(floor((max(CAST(ts AS DATE))
        |                       - min(CAST(ts AS DATE))) / 2) AS INTEGER)
        |           AS cut
        |  FROM events),
        |u AS (
        |  SELECT user_id,
        |         CAST(coalesce(sum(CASE WHEN CAST(ts AS DATE) < s.cut
        |           THEN CAST(value AS DECIMAL(18,2)) END), 0)
        |           AS DECIMAL(18,2)) AS x,
        |         CAST(coalesce(sum(CASE WHEN CAST(ts AS DATE) >= s.cut
        |           THEN CAST(value AS DECIMAL(18,2)) END), 0)
        |           AS DECIMAL(18,2)) AS y
        |  FROM events CROSS JOIN span s GROUP BY user_id),
        |a AS (
        |  SELECT user_id % 2 AS arm, CAST(count(*) AS DOUBLE) AS n,
        |         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |         CAST(sum(x * y) AS DOUBLE) AS sxy,
        |         CAST(sum(x * x) AS DOUBLE) AS sxx,
        |         CAST(sum(y * y) AS DOUBLE) AS syy
        |  FROM u GROUP BY 1),
        |t AS (
        |  SELECT sum(n) AS tn, sum(sx) AS tx, sum(sy) AS ty,
        |         sum(sxy) AS txy, sum(sxx) AS txx
        |  FROM a),
        |c AS (
        |  SELECT a.*, round((tn * txy - tx * ty)
        |                    / (tn * txx - tx * tx), 6) AS theta,
        |         round(tx / tn, 6) AS mx
        |  FROM a CROSS JOIN t),
        |d AS (
        |  SELECT *, sy - theta * (sx - n * mx) AS syc,
        |         syy - 2.0 * theta * (sxy - mx * sy)
        |           + theta * theta
        |             * (sxx - 2.0 * mx * sx + n * mx * mx) AS qyc
        |  FROM c)
        |SELECT CAST(arm AS BIGINT) AS arm, CAST(n AS BIGINT) AS n_users,
        |       round(sy / n, 6) AS mean_y,
        |       round((syy - sy * sy / n) / (n - 1), 6) AS var_y,
        |       round(syc / n, 6) AS mean_y_cuped,
        |       round((qyc - syc * syc / n) / (n - 1), 6) AS var_y_cuped,
        |       round(1.0 - (qyc - syc * syc / n)
        |             / (syy - sy * sy / n), 6) + 0 AS var_reduction
        |FROM d ORDER BY arm""".stripMargin,
    "stat_ab_proportions" ->
      """WITH u AS (
        |  SELECT user_id,
        |         max(CASE WHEN event_type = 'purchase' AND value >= 100
        |             THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY user_id),
        |a AS (
        |  SELECT CAST(count(*) FILTER (user_id % 2 = 0) AS DOUBLE) AS n0,
        |         CAST(count(*) FILTER (user_id % 2 = 1) AS DOUBLE) AS n1,
        |         CAST(sum(conv) FILTER (user_id % 2 = 0) AS DOUBLE) AS c0,
        |         CAST(sum(conv) FILTER (user_id % 2 = 1) AS DOUBLE) AS c1
        |  FROM u),
        |p AS (
        |  SELECT *, c0 / n0 AS p0, c1 / n1 AS p1,
        |         (c0 + c1) / (n0 + n1) AS p, (n0 + n1) / 2 AS h
        |  FROM a)
        |SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
        |       CAST(c0 AS BIGINT) AS conv0, CAST(c1 AS BIGINT) AS conv1,
        |       round(p0, 6) AS rate0, round(p1, 6) AS rate1,
        |       round((p1 - p0)
        |             / sqrt(NULLIF(p * (1 - p), 0) * (1.0 / n0 + 1.0 / n1)),
        |             6) + 0 AS z_stat,
        |       round((n0 - h) * (n0 - h) / h
        |             + (n1 - h) * (n1 - h) / h, 6) AS srm_chi2
        |FROM p""".stripMargin,
    // entropies via the mergeable-sum identity on both engines (never the
    // engine's own entropy()) so the scalar trees are identical
    "stat_theils_u" ->
      """WITH cells AS (
        |  SELECT event_type, isodow(CAST(ts AS DATE)) AS dow,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |hx AS (
        |  SELECT log2(CAST(sum(n) AS DOUBLE))
        |         - sum(CAST(n AS DOUBLE) * log2(n)) / CAST(sum(n) AS DOUBLE)
        |           AS hx
        |  FROM (SELECT event_type, CAST(sum(n) AS BIGINT) AS n
        |        FROM cells GROUP BY 1)),
        |hy AS (
        |  SELECT log2(CAST(sum(n) AS DOUBLE))
        |         - sum(CAST(n AS DOUBLE) * log2(n)) / CAST(sum(n) AS DOUBLE)
        |           AS hy
        |  FROM (SELECT dow, CAST(sum(n) AS BIGINT) AS n
        |        FROM cells GROUP BY 1)),
        |hxy AS (
        |  SELECT log2(CAST(sum(n) AS DOUBLE))
        |         - sum(CAST(n AS DOUBLE) * log2(n)) / CAST(sum(n) AS DOUBLE)
        |           AS hxy
        |  FROM cells)
        |SELECT round(hx, 6) AS h_type, round(hy, 6) AS h_dow,
        |       round(hxy, 6) AS h_joint,
        |       round(hx + hy - hxy, 6) + 0 AS mutual_info,
        |       round((hx + hy - hxy) / hx, 6) + 0 AS u_type_given_dow,
        |       round((hx + hy - hxy) / hy, 6) + 0 AS u_dow_given_type
        |FROM hx CROSS JOIN hy CROSS JOIN hxy""".stripMargin)
}
