package graft

import graft.plans.RowLocalUnionLoopExec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.UnionLoopExec

/** Physical-plan regression guard: the scale-critical plan properties the
  * manual `graft.Explain` audit checks, asserted programmatically — losing
  * a pushdown, a broadcast, or a group-limit to a refactor should fail CI,
  * not wait for a bench regression at scale.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("join_bucketed: co-located bucketed scan join — zero hash exchanges") {
    val p = plan("join_bucketed")
    assert(p.contains("SortMergeJoin"), p.take(1200))
    assert(!p.contains("Exchange hashpartitioning"),
      "bucketed join must not shuffle either side:\n" + p.take(1500))
  }

  test("join_broadcast: dimension side broadcasts, no sort-merge") {
    val p = plan("join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("filter_pred: predicates reach the parquet scan") {
    val p = plan("filter_pred")
    assert(p.contains("PushedFilters: [IsNotNull(o_totalprice)"), p.take(1500))
  }

  test("sorted_range_scan: ts range pushed to the scan") {
    val p = plan("sorted_range_scan")
    assert(p.contains("GreaterThanOrEqual(ts") && p.contains("LessThanOrEqual(ts"),
      p.take(1500))
  }

  test("sink_orc_roundtrip: ts range pushed to the ORC scan") {
    val p = plan("sink_orc_roundtrip")
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(ts"),
      "range filter must reach the ORC reader:\n" + p.take(2000))
  }

  test("partition_prune: day predicate prunes partitions, not rows") {
    val p = plan("partition_prune")
    assert(p.contains("PartitionFilters: [isnotnull(d"), p.take(1500))
  }

  test("a second build of each perfbench query key starts no Spark job") {
    // the first build writes partition_prune's sink; a build after that
    // must not run Spark's parquet schema-inference job for any table
    for (k <- Seq("replace_by_key", "partition_prune", "sql_recursive", "market_basket_lift")) {
      SparkEntry.queries(k)(spark, sf)
      val (jobs, _) = jobsStarted(SparkEntry.queries(k)(spark, sf))
      assert(jobs.isEmpty, s"$k: the second build started ${jobs.size} Spark jobs")
    }
  }

  test("topk: whole-stage top-k, not a global sort of everything") {
    val p = plan("topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("topk_per_group: rank filter pushes into WindowGroupLimit") {
    val p = plan("topk_per_group")
    assert(p.contains("WindowGroupLimit"), p.take(800))
  }

  test("scan_events: projection prunes the read schema to selected columns") {
    val p = plan("scan_events")
    assert(p.contains("ReadSchema"), p.take(1500))
    assert(!p.contains("props"), "props must be pruned from the scan:\n" + p.take(1500))
  }

  test("join_asof: exactly one pre-window exchange (the user_id shuffle) plus the output sort") {
    val p = plan("join_asof")
    val exchanges = "Exchange (hashpartitioning|rangepartitioning)".r.findAllIn(p).size
    assert(exchanges == 2, s"expected user_id hash + final range exchange, got $exchanges:\n${p.take(1200)}")
  }

  test("sim_topk: query side broadcasts; corpus is streamed once") {
    val p = plan("sim_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(800))
  }

  // Dedup family: the whole 100-TB design rests on candidates coming from an
  // EQUALITY join on a band/prefix key (shuffle-hash or sort-merge on that
  // key) — never a nested-loop over the corpus — and on the signature table
  // being materialized once (an InMemoryRelation in Spark's cache, put there
  // by OpCache.cached) rather than recomputed per self-join side.
  private def assertBandedCandidateJoin(name: String): Unit = {
    val p = plan(name)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"$name candidate join degenerated to a nested loop:\n" + p.take(1500))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"$name: no equi-join found in plan:\n" + p.take(1500))
    assert(p.contains("InMemoryTableScan"),
      s"$name: signature table not read from Spark's cache (OpCache.cached):\n" +
        p.take(1500))
  }

  test("dedup_minhash: banded equi-join candidates + persisted signatures") {
    assertBandedCandidateJoin("dedup_minhash")
  }

  test("dedup_simhash: banded equi-join candidates + persisted signatures") {
    assertBandedCandidateJoin("dedup_simhash")
  }

  test("dedup_ngram_jaccard: prefix equi-join candidates + persisted prefix posts") {
    assertBandedCandidateJoin("dedup_ngram_jaccard")
  }

  test("dedup_embedding: LSH-band equi-join candidates + persisted vectors") {
    assertBandedCandidateJoin("dedup_embedding")
  }

  // The round-1 fn_json lesson, locked in: JSON queries parse each document
  // ONCE with from_json — never a second independent walk, never the
  // codegen-breaking json_tuple generator.
  test("json queries: single from_json pass, no json_tuple generator") {
    for (name <- Seq("json_nested_event", "fn_json")) {
      val p = SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan.toString
      assert(!p.contains("json_tuple"), s"$name regressed to json_tuple:\n" + p.take(1200))
      val parses = "from_json".r.findAllIn(p).size
      assert(parses <= 1, s"$name parses JSON $parses times:\n" + p.take(1200))
    }
  }

  test("join_skew_salted: sort-merge on the salted key, not broadcast, not 5 hot keys") {
    val p = plan("join_skew_salted")
    assert(p.contains("SortMergeJoin"), p.take(1200))
    assert(!p.contains("BroadcastHashJoin"),
      "the salted pattern exists for dim sides too big to broadcast:\n" + p.take(1200))
    assert(p.contains("salt"), "join key must include the salt column:\n" + p.take(1200))
  }

  test("agg_grouping_sets: Expand runs over pre-aggregated cells, not raw rows") {
    // r10 shape: one exact (flag, status) cell aggregate FIRST (guide §2.3),
    // then the single Expand + grouping-set aggregate over ~12 cells — two
    // keyed exchanges total, but the Expand replication factor now applies
    // to the cell table instead of every raw row. Still never one pass per
    // grouping set.
    val p = plan("agg_grouping_sets")
    assert("Expand".r.findAllIn(p).size == 1, p.take(1500))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 2,
      s"cell pre-agg + grouping-set agg = exactly 2 keyed shuffles, got $exchanges:\n" + p.take(1500))
    // the Expand must sit ABOVE the cell aggregate (formatted tree prints
    // operators top-down, so the Expand line appears before the scan and
    // at least one HashAggregate appears between them)
    val lines = p.linesIterator.toSeq
    val expandLn = lines.indexWhere(_.contains("Expand"))
    val scanLn = lines.indexWhere(_.contains("Scan parquet"))
    assert(expandLn >= 0 && scanLn > expandLn &&
      lines.slice(expandLn, scanLn).exists(_.contains("HashAggregate")),
      "Expand must consume the pre-aggregated cells, not the raw scan:\n" + p.take(1500))
  }

  test("sql_analytics: SQL text gets the same physical treatment as the DataFrame API") {
    val p = plan("sql_analytics")
    assert(p.contains("BroadcastHashJoin"),
      "filtered customer side must broadcast:\n" + p.take(1500))
    assert(p.contains("TakeOrderedAndProject"),
      "LIMIT 10 over ORDER BY must not globally sort:\n" + p.take(1500))
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)"),
      "segment filter must reach the customer parquet scan:\n" + p.take(2000))
  }

  test("sim_topk_ivf: probe scan is partition-pruned to the probed cells") {
    val p = plan("sim_topk_ivf")
    assert(p.contains("dynamicpruningexpression"),
      "IVF candidate scan must dynamic-partition-prune on cell:\n" + p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("event_funnel: every step joins equality-keyed on user_id — no nested loop") {
    val p = plan("event_funnel")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "funnel legs must stay hash/sort-merge keyed joins:\n" + p.take(2000))
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,signup)"),
      "each leg must scan only its own event type:\n" + p.take(2500))
  }

  test("join_null_safe: null-safe key plans as a broadcast hash join, not NLJ") {
    val p = plan("join_null_safe")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "<=> must stay an equi-join (null-safe hash key):\n" + p.take(1200))
  }

  test("agg_hll_merge: both levels aggregate partially before their exchange") {
    val p = plan("agg_hll_merge")
    // two-level rollup: partial sketch agg before each of the two exchanges
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p.take(1500))
    assert(p.contains("ObjectHashAggregate"),
      "sketch agg must use the object hash aggregate path:\n" + p.take(1500))
  }

  test("set_ops_all: INTERSECT/EXCEPT ALL plan as aggregates, not joins") {
    val p = plan("set_ops_all")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(1500))
  }

  test("no query key ever plans a true CartesianProduct (global sweep)") {
    // BroadcastNestedLoopJoin is acceptable where deliberate (a broadcast
    // side bounds it); CartesianProduct means BOTH sides stream — the
    // accidental cross join that detonates at scale. Zero keys may do it.
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      plan(name).contains("CartesianProduct")
    }
    assert(offenders.isEmpty, s"cartesian plans: $offenders")
  }

  test("event_dau_wau: trailing-week membership is an equality join, not a range NLJ") {
    val p = plan("event_dau_wau")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the explode-into-7-windows formulation must keep every join keyed:\n" + p.take(1500))
  }

  test("sim_centroid: scoring join broadcasts the labels x dim centroid table") {
    val p = plan("sim_centroid")
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("SortMergeJoin"),
      "the corpus side must never shuffle for centroid scoring:\n" + p.take(1200))
  }

  test("profile_columns: per-column single-distinct branches, no Expand") {
    // r10 shape (guide §2.3): the old single 17-aggregate pass planned four
    // distinct columns in one aggregate = Expand × 5 over every raw row.
    // Now each column profiles in its own single-distinct branch: no Expand
    // anywhere, and every scan reads exactly ONE column (columnar pruning —
    // same total bytes as the one wide scan, none of the row replication).
    val p = plan("profile_columns")
    assert(!p.contains("Expand"),
      "multi-distinct Expand is the shape this key was optimized away from:\n" + p.take(1500))
    val reads = "struct<[^>]*>".r.findAllIn(p).toSeq
    assert(reads.nonEmpty && reads.forall(r => r.count(_ == ':') == 1),
      s"each branch must scan exactly one column, got $reads")
  }

  test("scd2_history: change-detect, version, and validity all ride one user_id exchange") {
    val p = plan("scd2_history")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    // hashpartitioning(user_id) satisfies the (user_id, version) groupBy and
    // both windows; the only other exchange is the final presentation sort
    assert(exchanges == 1, s"expected 1 keyed exchange, got $exchanges:\n" + p.take(2000))
  }

  test("join_partition_prune_dynamic: the join injects a runtime partition filter") {
    val p = plan("join_partition_prune_dynamic")
    assert(p.contains("dynamicpruning"),
      "the day-dim join must prune fact partitions at runtime:\n" + p.take(2500))
  }

  test("join_interval_bucketed: the containment join is equality-keyed on the hour band") {
    val p = plan("join_interval_bucketed")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "banding must keep the interval join keyed:\n" + p.take(1500))
  }

  test("window_time_decay: the 8-tap kernel rides ONE keyed exchange") {
    val p = plan("window_time_decay")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    // hashpartitioning(user_id) serves every lag tap; the only other
    // exchange is the final presentation sort (range partitioning)
    assert(exchanges == 1, s"expected 1 keyed exchange, got $exchanges:\n" + p.take(2000))
    assert(p.contains("Window"), p.take(800))
  }

  test("event_bounding_ratio: full-frame window and per-user reduce share the user_id exchange") {
    val p = plan("event_bounding_ratio")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1,
      s"groupBy(user_id) must reuse the window's partitioning, got $exchanges:\n" + p.take(2000))
  }

  test("embed_correlation: one corpus aggregate, pair table broadcast against it") {
    val p = plan("embed_correlation")
    assert(p.sliding("Scan parquet".length).count(_ == "Scan parquet") == 1,
      "the corpus must be scanned exactly once:\n" + p.take(1500))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row moment buffer must broadcast, never shuffle the pair table:\n" + p.take(1500))
  }

  test("ml_woe_iv: one conditional-agg exchange; shares ride the tiny category frame") {
    val p = plan("ml_woe_iv")
    assert(p.sliding("Scan parquet".length).count(_ == "Scan parquet") == 1,
      "good/bad counts must come from ONE scan:\n" + p.take(1500))
  }

  test("join_asof_plan: the node plans as AsOfJoinExec, no Window, no NLJ") {
    val p = plan("join_asof_plan")
    assert(p.contains("AsOfJoin ") && !p.contains("Window"), p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the plan-level as-of must never pair ranges:\n" + p.take(1500))
  }

  test("sql_range_join: the TVF expands to the banded equi-join, never NLJ") {
    val p = plan("sql_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "range_join(...) must keep the interval join banded:\n" + p.take(1500))
    assert(p.contains("Generate"),
      "intervals must explode into bands via Generate:\n" + p.take(1500))
  }

  test("pipeline_end_to_end: six stages, zero nested loops, persisted shared stages") {
    val p = plan("pipeline_end_to_end")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "every corpus-build stage join must stay equality-keyed:\n" + p.take(2000))
    assert(p.contains("InMemoryTableScan"),
      "multiply-referenced stages must persist, not recompute per branch:\n" + p.take(1500))
  }

  test("event_rolling_uniques_approx: sketch partials persisted, raw data never re-read") {
    val p = plan("event_rolling_uniques_approx")
    // all THREE readouts (DAU + both trailing windows) must hit the
    // persisted partial table — the corpus is scanned once to fill it.
    // (Scan-parquet counting is unreliable here: the tree string reprints
    // each cached relation's fill plan under every InMemoryTableScan, and
    // suite-order cache state nests relations.)
    def n(needle: String) = p.sliding(needle.length).count(_ == needle)
    assert(n("InMemoryTableScan") >= 3,
      "a readout bypassed the persisted sketch partials:\n" + p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(1500))
  }

  test("dedup_minhash_planted: the planted contract runs the UNCHANGED banded LSH plan") {
    val p = plan("dedup_minhash_planted")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "the planted key must exercise the same equi-join pipeline:\n" + p.take(1500))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"no equi-join found in plan:\n" + p.take(1500))
  }

  test("dedup_semantic: centroids broadcast back; pairing is cluster-equality, no NLJ") {
    val p = plan("dedup_semantic")
    assert(p.contains("BroadcastHashJoin"),
      "the cluster x dim centroid table must broadcast:\n" + p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "candidate pairs must come from the cluster-id equality join:\n" + p.take(1500))
  }

  /** The Spark jobs `body` starts on this thread, counted by a job group. */
  private def jobs(body: => Unit): Int = {
    val (sc, group) = (spark.sparkContext, "plan-spec-jobs")
    jobsStarted {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
    }._1.count(_.getProperty("spark.jobGroup.id") == group)
  }

  test("sql_recursive: the row-local CTE runs as one fused pass, not a job per iteration") {
    val df = SparkEntry.queries("sql_recursive")(spark, sf)
    val n = jobs(df.collect())
    val ns = executedNodes(df)
    assert(ns.exists(_.isInstanceOf[RowLocalUnionLoopExec]) &&
      !ns.exists(_.isInstanceOf[UnionLoopExec]),
      "the ancestor walk must plan as RowLocalUnionLoopExec:\n" + df.queryExecution.executedPlan)
    // a count of 0 would mean the listener saw nothing, not a free query
    assert(n > 0 && n <= 6, s"$n jobs for one sql_recursive run")
  }

  test("sql_recursive: the fused exec reports UnionLoopExec's metrics for the same walk") {
    SparkEntry.queries("sql_recursive")(spark, sf) // registers graft_customer
    // `floor(rand()) = 0` is always true but non-deterministic, so this
    // twin of the key's SQL keeps Spark's own loop
    def walk(extra: String) = spark.sql(
      s"""WITH RECURSIVE anc(custkey, anc_key, depth) AS (
         |  SELECT c_custkey, c_custkey, 0 FROM graft_customer
         |  UNION ALL
         |  SELECT custkey, anc_key DIV 2, depth + 1 FROM anc WHERE anc_key > 1$extra
         |)
         |SELECT custkey, count(*) AS n_anc, max(depth) AS max_depth
         |FROM anc GROUP BY custkey ORDER BY custkey""".stripMargin)
    def metrics(df: DataFrame, exec: Class[_]): Map[String, Long] = {
      df.collect()
      val loops = executedNodes(df).filter(exec.isInstance)
      assert(loops.size == 1, df.queryExecution.executedPlan.toString)
      Seq("numOutputRows", "numAnchorOutputRows", "numIterations")
        .map(k => k -> loops.head.metrics(k).value).toMap
    }
    val fused = metrics(walk(""), classOf[RowLocalUnionLoopExec])
    assert(fused == metrics(walk(" AND floor(rand()) = 0"), classOf[UnionLoopExec]))
    assert(fused.values.forall(_ > 0), fused)
  }
}
