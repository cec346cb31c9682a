package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Behavioral event analytics — the ClickHouse-side query family the
  * reference's users run on archived GitHub events (ref: README.md:4-17
  * exists to serve exactly these "what did actors do, in what order"
  * questions; the engine analogs are ClickHouse `windowFunnel`, `retention`
  * and `ORDER BY ... WITH FILL`).
  *
  * Scale notes (100 TB discipline):
  *  - the funnel is a cascade of per-step aggregates joined on `user_id` —
  *    every join is equality-keyed on the (well-spread) user id and every
  *    step input is a type-filtered scan, so pushed filters prune each leg
  *    to its own event type; no per-user event array is ever materialized;
  *  - retention is one conditional-aggregation pass: map-side partials
  *    collapse each user's flags before the single exchange;
  *  - gap-fill builds the dense (hour × type) grid from two scalar bounds
  *    and a distinct-types dim — both tiny, broadcast — and left-joins the
  *    sparse counts onto it; the dense side never shuffles the fact table.
  */
object EventOps {
  import Tables.dec

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ClickHouse windowFunnel analog: strict-order signup → click →
    // purchase, all inside 7 days of the user's FIRST signup. Output is the
    // per-level user count (level 0 = users who never signed up).
    "event_funnel" -> ((s, dir) => {
      val e = Tables.events(s, dir).select("user_id", "event_type", "ts")
      val users = e.select("user_id").distinct()
      val s1 = e.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts").as("t1"))
      val s2 = e.filter(col("event_type") === "click")
        .join(s1, "user_id")
        .filter(col("ts") > col("t1") &&
          col("ts") <= col("t1") + expr("INTERVAL 7 DAYS"))
        .groupBy("user_id").agg(min("ts").as("t2"))
      val s3 = e.filter(col("event_type") === "purchase")
        .join(s1, "user_id").join(s2, "user_id")
        .filter(col("ts") > col("t2") &&
          col("ts") <= col("t1") + expr("INTERVAL 7 DAYS"))
        .groupBy("user_id").agg(min("ts").as("t3"))
      users
        .join(s1, Seq("user_id"), "left").join(s2, Seq("user_id"), "left")
        .join(s3, Seq("user_id"), "left")
        .select(
          when(col("t3").isNotNull, 3)
            .when(col("t2").isNotNull, 2)
            .when(col("t1").isNotNull, 1)
            .otherwise(0).cast(LongType).as("funnel_level"))
        .groupBy("funnel_level").agg(count(lit(1)).as("n_users"))
        .orderBy("funnel_level")
    }),

    // ClickHouse retention analog: cohort = users whose signup falls in the
    // archive's first week; retained_wN = cohort members active (any event)
    // in week N. One conditional-aggregation pass over the corpus; the
    // cohort week is derived from the data (min event date), not hardcoded.
    "event_retention" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val d0 = e.agg(min(to_date(col("ts"))).as("d0"))
      val flags = e.crossJoin(broadcast(d0))
        .withColumn("wk", floor(datediff(to_date(col("ts")), col("d0")) / 7))
        .groupBy("user_id")
        .agg(
          max(when(col("event_type") === "signup" && col("wk") === 0, 1)
            .otherwise(0)).as("cohort"),
          max(when(col("wk") === 1, 1).otherwise(0)).as("w1"),
          max(when(col("wk") === 2, 1).otherwise(0)).as("w2"),
          max(when(col("wk") === 3, 1).otherwise(0)).as("w3"))
      flags.filter(col("cohort") === 1)
        .agg(
          count(lit(1)).as("cohort_users"),
          sum("w1").cast(LongType).as("retained_w1"),
          sum("w2").cast(LongType).as("retained_w2"),
          sum("w3").cast(LongType).as("retained_w3"))
    }),

    // ClickHouse sequenceMatch analog: encode each user's event-time
    // journey as a string of type initials (types here start with distinct
    // letters) and run ordinary regexes over it — '(?1).*(?2).*(?3)'
    // becomes 's.*c.*p', strictly-consecutive patterns become 'e{2}'. The
    // journey build is one ordered string aggregation on the same user_id
    // exchange every sequence query pays; per-user state is bounded by
    // events-per-user, and the regex runs once per user, not per event.
    "event_sequence_match" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(expr(
          "listagg(substring(event_type, 1, 1), '') WITHIN GROUP (ORDER BY ts, event_id)")
          .as("j"))
        .select(col("user_id"),
          length(col("j")).cast(LongType).as("n_events"),
          col("j").rlike("s.*c.*p").as("funnel_matched"),
          col("j").rlike("e{2}").as("double_error"))
        .orderBy("user_id")
    }),

    // ClickHouse `maxIntersections` analog: peak number of simultaneously
    // open intervals per user, each event held open for `value` seconds.
    // The classic +1/−1 sweep — starts and ends union into one point
    // stream, a running sum walks it, the max is the answer. At ties a
    // start sorts before an end (closed intervals: back-to-back counts as
    // overlap), pinned identically in the oracle. One keyed window
    // exchange on user_id; per-row state is a single running counter.
    "event_max_concurrent" -> ((s, dir) => {
      // explicit floor: DuckDB's double→INT cast ROUNDS, Spark's truncates
      val e = Tables.events(s, dir)
        .select(col("user_id"), col("ts"),
          (col("ts") + expr("make_interval(0, 0, 0, 0, 0, 0, CAST(floor(value) AS INT))"))
            .as("te"))
      val pts = e.select(col("user_id"), col("ts").as("t"), lit(1).as("d"))
        .unionAll(e.select(col("user_id"), col("te").as("t"), lit(-1).as("d")))
      val w = Window.partitionBy("user_id").orderBy(col("t"), col("d").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      pts
        .withColumn("open", sum("d").over(w))
        .groupBy("user_id")
        .agg(max("open").cast(LongType).as("max_concurrent"))
        .orderBy("user_id")
    }),

    // ClickHouse windowFunnel(strict_order) analog: the funnel level only
    // advances while signup → click → purchase appear CONSECUTIVELY in
    // the user's journey — any intervening event breaks the chain (the
    // plain `event_funnel` key is the permissive mode). Rides the same
    // journey-string build (and the same user_id exchange) as
    // `event_sequence_match`; the level test is a contiguous-substring
    // probe, one per user, not per event.
    "event_funnel_strict" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(expr(
          "listagg(substring(event_type, 1, 1), '') WITHIN GROUP (ORDER BY ts, event_id)")
          .as("j"))
        .select(
          when(instr(col("j"), "scp") > 0, 3)
            .when(instr(col("j"), "sc") > 0, 2)
            .when(instr(col("j"), "s") > 0, 1)
            .otherwise(0).cast(LongType).as("funnel_level"))
        .groupBy("funnel_level").agg(count(lit(1)).as("n_users"))
        .orderBy("funnel_level")
    }),

    // Time-series downsampling per user (ClickHouse
    // `largestTriangleThreeBuckets` analog): keep the most visually
    // salient point per uniform bucket — the one maximizing the triangle
    // area against the neighbor buckets' centroids. Deliberately the
    // PARALLEL three-bucket-AVERAGE variant (classic LTTB anchors on the
    // previously SELECTED point — a sequential chain across buckets that
    // cannot fan out); every stage here is a keyed window or equi-join.
    // Bit-exactness discipline: x = the in-series index, y = value in
    // cents — both exact integers, so bucket centroids are identical
    // doubles on both engines and the argmax (on round(area,6), rn
    // tiebreak) cannot flip on summation-order ulps.
    "event_downsample_lttb" -> ((s, dir) => {
      val m = 12
      val wRn = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val rows = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("value"), round(col("value") * 100, 0).cast(LongType).as("y"))
        .withColumn("rn", row_number().over(wRn))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("user_id")))
        .withColumn("b",
          least(floor((col("rn") - 1) * m / col("n")), lit(m - 1).cast(LongType)))
      val wB = Window.partitionBy("user_id").orderBy("b")
      val bk = rows.groupBy("user_id", "b")
        .agg((sum("rn") / count(lit(1))).as("ax"),
          (sum("y") / count(lit(1))).as("ay"))
        .withColumn("pax", coalesce(lag("ax", 1).over(wB), col("ax")))
        .withColumn("pay", coalesce(lag("ay", 1).over(wB), col("ay")))
        .withColumn("nax", coalesce(lead("ax", 1).over(wB), col("ax")))
        .withColumn("nay", coalesce(lead("ay", 1).over(wB), col("ay")))
      // r10 (guide §2.3): the per-bucket pick is a partition-wide argmax —
      // max_by on (area, −rn) reproduces the (area DESC, rn ASC) window
      // order (rn is unique, so no residual tie) in one partial-aggregating
      // hash pass instead of an exchange + sort + rank filter.
      rows.join(bk, Seq("user_id", "b"))
        .withColumn("area", round(abs(
          (col("pax") - col("nax")) * (col("y") - col("pay"))
            - (col("pax") - col("rn")) * (col("nay") - col("pay"))), 6))
        .groupBy("user_id", "b")
        .agg(max_by(struct(col("ts"), col("value")),
          struct(col("area"), -col("rn"))).as("pick"))
        .select(col("user_id"), col("b").cast(LongType).as("bucket"),
          col("pick.ts").as("ts"), col("pick.value").as("value"))
        .orderBy("user_id", "bucket")
    }),

    // PageRank over the repo-transition graph — the second iterative graph
    // algorithm next to `dedup_cluster_cc`'s connected components: which
    // repos do user journeys flow INTO? Edges are distinct (prev repo →
    // next repo) transitions per user journey; 10 fixed power iterations
    // with damping 0.85. Every iteration is one equality join on src plus
    // one aggregate on dst — the classic BSP shape — with per-iteration
    // `localCheckpoint` cutting lineage exactly as the CC rounds do (at
    // cluster scale: reliable checkpoint). The node count rides along as
    // a broadcast scalar, never a driver constant. The oracle unrolls the
    // same 10 iterations as chained CTEs; identical double algebra,
    // round(6) absorbs contribution-sum ordering ulps.
    // Dangling-node mass (rank at nodes with no out-edges) is DROPPED each
    // iteration here, matching the oracle's identical algebra; the
    // textbook-correct variant that redistributes that mass uniformly is
    // `pageRank(_, _, redistributeDangling = true)`, pinned by
    // AnalyticsOpsSpec (rank mass conserved at 1.0).
    "graph_pagerank" -> ((s, dir) => pageRank(s, dir, redistributeDangling = false)),

    // Per-node triangle participation on the repo-transition graph (same
    // derived graph as graph_pagerank) — the clustering/community primitive.
    // Degree-ordered orientation, the scale-correct algorithm: rank nodes
    // by (degree, id), orient every undirected edge low→high rank, then a
    // triangle is exactly one wedge u→v, u→w (v<w) closed by v→w — each
    // counted ONCE, and out-degrees under this orientation are O(√m) on
    // any graph, so the wedge self-join is bounded even with power-law
    // hubs (a hub's edges point INTO it and generate no wedges). The node
    // rank table is |V| rows — index metadata, broadcast both ways; the
    // only shuffles are equality joins on edge endpoints. Exact integer
    // counts, no floats.
    "graph_triangles" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val und = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          pmod(col("event_id"), lit(97L)).as("repo"))
        .withColumn("src", lag(col("repo"), 1).over(w))
        .filter(col("src").isNotNull && col("src") =!= col("repo"))
        .select(least(col("src"), col("repo")).as("a"),
          greatest(col("src"), col("repo")).as("b"))
        .distinct()
        // r10 (guide §2.4): und/rk/oe are each consumed 2-3 times below —
        // lazy lineage cuts compute the edge derivation once instead of
        // re-deriving it per consumer (the before-plan compiled to 17
        // scans / 50 exchanges for a |V|=97 graph). Values unchanged.
        // ADVICE r10 #4 caveat (applies to every lazy localCheckpoint in
        // this query): all cuts materialize under ONE action, and locally-
        // checkpointed blocks are NOT replayable — an executor lost late
        // in the job recomputes from the source instead of failing fast
        // per stage. Right trade locally; on a multi-node cluster use
        // reliable checkpoint() for these.
        .localCheckpoint(false)
      val deg = und.select(col("a").as("node"))
        .unionAll(und.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val rk = deg.select(col("node"),
        row_number().over(Window.orderBy(col("deg"), col("node")))
          .cast(LongType).as("rk"))
        .localCheckpoint(false)
      val oe = und
        .join(broadcast(rk.select(col("node").as("a"), col("rk").as("ra"))), "a")
        .join(broadcast(rk.select(col("node").as("b"), col("rk").as("rb"))), "b")
        .select(least(col("ra"), col("rb")).as("u"),
          greatest(col("ra"), col("rb")).as("v"))
        .localCheckpoint(false)
      val tri = oe.as("e1")
        .join(oe.as("e2"),
          col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
        .select(col("e1.u").as("x"), col("e1.v").as("y"), col("e2.v").as("z"))
        .join(oe.select(col("u").as("y"), col("v").as("z")),
          Seq("y", "z"), "left_semi")
      tri.select(explode(array(col("x"), col("y"), col("z"))).as("r"))
        .groupBy("r").agg(count(lit(1)).as("n_triangles"))
        .join(broadcast(rk.select(col("rk").as("r"), col("node"))), "r")
        .select(col("node"), col("n_triangles"))
        .orderBy("node")
    }),

    // sequenceCount analog: NON-OVERLAPPING occurrence counts of patterns
    // in the per-user journey string (how many click→purchase cycles, how
    // many error bursts — not just "did it happen"). Regex engines count
    // non-overlapping matches left-to-right identically on both sides;
    // same single ordered-LISTAGG exchange as `event_sequence_match`.
    "event_sequence_count" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(expr(
          "listagg(substring(event_type, 1, 1), '') WITHIN GROUP (ORDER BY ts, event_id)")
          .as("j"))
        .select(col("user_id"),
          regexp_count(col("j"), lit("c[^p]*p")).cast(LongType)
            .as("n_convert_cycles"),
          regexp_count(col("j"), lit("ee+")).cast(LongType)
            .as("n_error_bursts"))
        .orderBy("user_id")
    }),

    // sequenceNextNode analog: after a consecutive click→purchase pair in
    // a user's journey, what happens NEXT? The "where do users go after
    // converting" distribution — two lags over the per-user order (the
    // same single user_id exchange every sequence query pays), then a
    // tiny aggregate over the 5-value event-type space.
    "event_sequence_next_node" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          lag(col("event_type"), 2).over(w).as("p2"),
          lag(col("event_type"), 1).over(w).as("p1"))
        .filter(col("p2") === "click" && col("p1") === "purchase")
        .groupBy(col("event_type").as("next_node"))
        .agg(count(lit(1)).as("n"))
        .orderBy("next_node")
    }),

    // TIME-CONSTRAINED sequence match — the ClickHouse
    // `sequenceMatch('(?1)(?t<=21600)(?2)(?t<=86400)(?3)')` semantics the
    // journey-string regex can't express: signup, then a click within 6 h
    // OF THAT SIGNUP, then a purchase within 24 h OF THAT CLICK, with any
    // events allowed in between and `t` measured between MATCHED events.
    // Evaluated exactly as a staged NFA in ONE window pass: at each row,
    // `last_s` is the latest prior signup (the latest predecessor
    // maximizes the chance of satisfying the bound, so existence against
    // it IS existence against any), clicks satisfying the bound become
    // stage-2 tokens, and the same argument cascades to purchases. Both
    // window chains share one (user_id) exchange + sort; no self-join,
    // no journey materialization — the formulation that still works when
    // a user has a million events. `matched_any` (no time bound) rides
    // the same pass for contrast with `event_sequence_match`.
    "event_sequence_match_time" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, dir)
        .withColumn("last_s",
          max(when(col("event_type") === "signup", col("ts"))).over(w))
        .withColumn("good_c", col("event_type") === "click" &&
          col("last_s").isNotNull &&
          col("ts") <= col("last_s") + expr("INTERVAL 6 HOURS"))
        .withColumn("any_c", col("event_type") === "click" &&
          col("last_s").isNotNull)
        .withColumn("last_gc", max(when(col("good_c"), col("ts"))).over(w))
        .withColumn("last_ac", max(when(col("any_c"), col("ts"))).over(w))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          coalesce(max(col("event_type") === "purchase" &&
            col("last_gc").isNotNull &&
            col("ts") <= col("last_gc") + expr("INTERVAL 24 HOURS")),
            lit(false)).as("matched_time"),
          coalesce(max(col("event_type") === "purchase" &&
            col("last_ac").isNotNull), lit(false)).as("matched_any"))
        .orderBy("user_id")
    }),

    // Path analysis (the Sankey-diagram staple): per-user event-order
    // transition bigrams, counted corpus-wide. One window pass (lag over
    // the user's event-time order — the same single user_id exchange every
    // sequence query here pays) and one aggregate; the (prev, next) pair
    // space is tiny so the count exchange moves almost nothing.
    "event_paths" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          lag(col("event_type"), 1).over(w).as("prev"))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("event_type").as("next"))
        .agg(count(lit(1)).as("n"))
        .orderBy("prev", "next")
    }),

    // First-order Markov transition matrix — `event_paths`' bigram counts
    // normalized into P(next | cur): the journey model behind "where do
    // users go from here" dashboards and sequence simulators. The
    // row-normalizer is a window sum over the (small) transition matrix
    // itself, not another pass over events — one user_id exchange for the
    // lag, one |types|² aggregate, done. Probabilities are exact-count
    // ratios, identical divisions both engines; round(6) on the output.
    "event_markov_transition" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val trans = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          lag(col("event_type"), 1).over(w).as("prev"))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev").as("cur"), col("event_type").as("next"))
        .agg(count(lit(1)).as("n"))
      trans
        .withColumn("p", round(col("n").cast(DoubleType) /
          sum(col("n")).over(Window.partitionBy("cur")).cast(DoubleType), 6))
        .orderBy("cur", "next")
    }),

    // Markov removal-effect attribution — the data-driven
    // multi-touch-attribution model (Anderl et al.; the industry
    // alternative to last-click): build the user-journey transition graph,
    // then credit each channel by how much the 20-step conversion
    // probability DROPS when that channel's node is removed (edges into it
    // redirect to the null absorber). The DISTRIBUTED work is journey
    // truncation (running prior-purchase count) + the transition-count
    // aggregate — one keyed window exchange, map-side-combined counts. The
    // transition matrix is ≤ (1+|channels|)×(|channels|+2) METADATA (the
    // PageRank / IVF-centroid discipline: collect() of a bounded model,
    // never data); the 5 scenario chains run as driver scalar algebra, and
    // the oracle unrolls the IDENTICAL 20 iterations per scenario as
    // generated CTEs (the embed_pca_project pattern). The 20-step horizon
    // is part of the declared semantic, not an approximation knob: both
    // engines iterate exactly 20 times over identical doubles (counts are
    // exact ints; iteration is contractive, ulps do not amplify).
    "event_markov_attribution" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val prior = sum(when(col("event_type") === "purchase", 1).otherwise(0))
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
      val kept = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("pp", coalesce(prior, lit(0)))
        .filter(col("pp") === 0)
      val seq0 = kept
        .withColumn("rn", row_number().over(w))
        .withColumn("nxt", lead(col("event_type"), 1).over(w))
      val bodies = seq0.filter(col("event_type") =!= "purchase")
        .select(col("event_type").as("cur"),
          coalesce(when(col("nxt") === "purchase", lit("conv"))
            .otherwise(col("nxt")), lit("null")).as("next"))
      val starts = seq0.filter(col("rn") === 1)
        .select(lit("start").as("cur"),
          when(col("event_type") === "purchase", lit("conv"))
            .otherwise(col("event_type")).as("next"))
      val counts = bodies.unionAll(starts)
        .groupBy("cur", "next").agg(count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val channels = counts.flatMap(t => Seq(t._1, t._2)).distinct
        .filterNot(Set("start", "conv", "null")).sorted.toSeq
      // probabilities AFTER redirect, from summed counts — the oracle CTEs
      // compute the identical (n_null + n_removed)/total division
      def probs(removed: Option[String]): Map[(String, String), Double] =
        counts.filter(t => !removed.contains(t._1))
          .map { case (c, nx, n) =>
            (c, if (removed.contains(nx)) "null" else nx, n) }
          .groupBy(_._1).flatMap { case (c, ts) =>
            val tot = ts.map(_._3).sum.toDouble
            ts.groupBy(_._2).map { case (nx, g) =>
              (c, nx) -> g.map(_._3).sum / tot }
          }
      def pConv(p: Map[(String, String), Double]): Double = {
        val transient = ("start" +: channels).sorted
        var v = Map("start" -> 1.0).withDefaultValue(0.0)
        var absorbed = 0.0
        for (_ <- 1 to 20) {
          absorbed += transient.map(c => v(c) * p.getOrElse((c, "conv"), 0.0)).sum
          v = channels.map(nx => nx ->
            transient.map(c => v(c) * p.getOrElse((c, nx), 0.0)).sum)
            .toMap.withDefaultValue(0.0)
        }
        absorbed
      }
      val pFull = pConv(probs(None))
      // degenerate-fixture guard (ADVICE r5): no conversions (pFull = 0) or
      // removal effects summing to 0 → NULL, not NaN — mirrored in the
      // oracle via NULLIF, same discipline as stat_ab_proportions.
      val re: Seq[(String, Option[Double])] =
        if (pFull == 0.0) channels.map(c => c -> (None: Option[Double]))
        else channels.map(c => c -> Some(1.0 - pConv(probs(Some(c))) / pFull))
      val reSum = re.flatMap(_._2).sum
      import s.implicits._
      re.map { case (c, r) =>
        (c, pFull, r, r.flatMap(x => if (reSum == 0.0) None else Some(x / reSum)))
      }
        .toDF("channel", "p_conv", "removal_effect", "attribution")
        .select(col("channel"), round(col("p_conv"), 6).as("p_conv"),
          Tables.nz(round(col("removal_effect"), 6)).as("removal_effect"),
          Tables.nz(round(col("attribution"), 6)).as("attribution"))
        .orderBy("channel")
    }),

    // ClickHouse `retention(cond1, …)` analog: per-user gate-then-flag —
    // r1 = did the user sign up at all; r_i = r1 AND condition i (no
    // ordering constraint — that is the deliberate CH semantic, the
    // ordered variants live in the funnel keys). ONE conditional-agg
    // per-user reduce, then a 1-row ratio summary — the quick
    // "of signed-up users, how many also clicked / purchased?" readout.
    "agg_retention" -> ((s, dir) => {
      def flag(t: String) =
        max(when(col("event_type") === t, 1).otherwise(0))
      Tables.events(s, dir)
        .groupBy("user_id")
        .agg(flag("signup").as("c1"), flag("click").as("c2"),
          flag("purchase").as("c3"))
        .agg(
          sum(col("c1")).as("n_signup"),
          sum(col("c1") * col("c2")).as("n_signup_click"),
          sum(col("c1") * col("c3")).as("n_signup_purchase"),
          round(sum(col("c1") * col("c2")).cast(DoubleType)
            / sum(col("c1")), 6).as("click_retention"),
          round(sum(col("c1") * col("c3")).cast(DoubleType)
            / sum(col("c1")), 6).as("purchase_retention"))
    }),

    // RFM segmentation — the classic customer-value triage (Recency of
    // last purchase, purchase Frequency, Monetary total) quintile-scored
    // with ntile(5). One conditional aggregate per user (purchases only),
    // recency anchored to the corpus max day (data-derived, like
    // event_retention's cohort week); the three ntile windows run over
    // the per-user aggregate (one row per user — cheap), each ordered
    // with a user_id tiebreak so quintile boundaries are deterministic
    // cross-engine. Monetary sums in DECIMAL (money discipline). The
    // global ntile is one sort of the ALREADY-AGGREGATED user table; at
    // billions of users swap it for percentile_approx cutpoints + a
    // broadcast bucket join (same scores, no global sort).
    "event_rfm" -> ((s, dir) => {
      val maxDay = Tables.events(s, dir).agg(max(to_date(col("ts")))).head.getDate(0)
      val perUser = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(datediff(lit(maxDay), max(to_date(col("ts")))).cast(LongType)
            .as("recency_days"),
          count(lit(1)).as("frequency"),
          sum(Tables.dec(col("value"))).cast(DoubleType).as("monetary"))
      def score(c: String, asc: Boolean) = ntile(5).over(
        Window.orderBy(if (asc) col(c).asc else col(c).desc, col("user_id")))
        .cast(LongType)
      perUser
        .select(col("user_id"), col("recency_days"), col("frequency"),
          col("monetary"),
          score("recency_days", asc = true).as("r_score"),
          score("frequency", asc = false).as("f_score"),
          score("monetary", asc = false).as("m_score"))
        .orderBy("user_id")
    }),

    // Maximum drawdown — the running-peak shortfall (largest drop from a
    // prior high) per user's value series: the risk/health metric shape
    // (same algebra finance runs on equity curves, ops on counters). TWO
    // window passes on ONE user_id exchange: running max, then max of
    // (peak − value). Subtractions of raw doubles and max() are
    // order-independent — bit-exact cross-engine with NO rounding.
    "window_drawdown" -> ((s, dir) => {
      val run = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .select(col("user_id"), col("value"),
          max(col("value")).over(run).as("peak"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          max(col("peak") - col("value")).as("max_drawdown"))
        .orderBy("user_id")
    }),

    // Bollinger bands over each user's value series — rolling 20-row
    // mean ± 2σ with breakout flags (the volatility-band monitor every
    // metrics console ships). The frame moments are EXACT INTEGER CENT
    // sums (r9 — the halfcell sweep caught the raw-double form: a
    // constant-value window has true σ = 0, and double cancellation in
    // Σv² − (Σv)²/n lands an ulp NEGATIVE — DuckDB's sqrt raises, Spark
    // silently NaNs; and even clamped, the two engines' ±1e-10 residuals
    // differ at round(6) after the sqrt). With cents, the variance
    // numerator n·Σc² − (Σc)² is an exact integer, ≥ 0 by Cauchy–Schwarz
    // — identical doubles on both engines by the same scalar tree, no
    // clamp needed. One user_id exchange; partial leading frames are
    // dropped (rn ≥ 20) so every band is a full-window statistic.
    "window_bollinger" -> ((s, dir) => {
      val ord = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val w20 = ord.rowsBetween(-19, 0)
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"))
        .withColumn("c", (Tables.dec(col("value")) * 100).cast(LongType))
        .withColumn("rn", row_number().over(ord))
        .withColumn("s", sum("c").over(w20))
        .withColumn("q", sum(col("c") * col("c")).over(w20))
        .filter(col("rn") >= 20)
        .withColumn("mean", col("s").cast(DoubleType) / 2000.0)
        .withColumn("sd", sqrt(
          (lit(20L) * col("q") - col("s") * col("s")).cast(DoubleType)
            / lit(3800000.0))) // 10⁴ · 20 · 19
        .select(col("user_id"), col("event_id"), col("value"),
          round(col("mean"), 6).as("mid"),
          round(col("mean") + lit(2.0) * col("sd"), 6).as("upper"),
          Tables.nz(round(col("mean") - lit(2.0) * col("sd"), 6)).as("lower"))
        .withColumn("breakout_up", col("value") > col("upper"))
        .withColumn("breakout_down", col("value") < col("lower"))
        .orderBy("user_id", "event_id")
    }),

    // Inter-arrival time profile per event type — the latency-of-usage
    // distribution behind session-timeout and capacity decisions. Gaps
    // are EXACT integer µs (lag over the (user, type) ordered exchange,
    // epoch-µs subtraction — no float until the final stats); the
    // per-type reduce emits mean + exact p50/p90/p99 (`percentile` ≡
    // DuckDB `quantile_cont` — at extreme gap counts swap for
    // approx_percentile, same decision output). Stats are reported in
    // SECONDS: the two engines' interpolation formulas differ by an ulp,
    // which at 1e11-µs magnitudes is ~5e-5 (bigger than round(6)) but at
    // 1e5-s magnitudes is far below it — the µs→s division happens
    // AFTER the exact-integer percentile on both sides.
    "event_inter_arrival" -> ((s, dir) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("t"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("t"), col("event_id"))
        .withColumn("gap_us", col("t") - lag("t", 1).over(w))
        .filter(col("gap_us").isNotNull)
        .groupBy("event_type")
        // ONE percentile ladder (r10): three scalar percentile() calls each
        // kept their own value-count buffer over the same column — the
        // array form sorts once and serves every cut (same interpolation,
        // identical doubles).
        .agg(count(lit(1)).as("n_gaps"),
          round(avg("gap_us") / 1e6, 6).as("mean_s"),
          percentile(col("gap_us"),
            array(lit(0.5), lit(0.9), lit(0.99))).as("qs"))
        .select(col("event_type"), col("n_gaps"), col("mean_s"),
          round(element_at(col("qs"), 1) / 1e6, 6).as("p50_s"),
          round(element_at(col("qs"), 2) / 1e6, 6).as("p90_s"),
          round(element_at(col("qs"), 3) / 1e6, 6).as("p99_s"))
        .orderBy("event_type")
    }),

    // Growth accounting — the new/retained/resurrected/churned weekly
    // ledger (the standard growth-team decomposition: this-week actives
    // split by last-week state, plus a churn row one week after each
    // activity gap). NO user×week grid is materialized: everything
    // derives from the distinct (user, week) table with one lag/lead
    // window per user — churn at week w+1 is an emitted row from the
    // active week w, not a scan of inactive weeks. Integer week
    // arithmetic on Monday-truncated dates, identical both engines.
    "event_growth_accounting" -> ((s, dir) => {
      val uw = Tables.events(s, dir)
        .select(col("user_id"),
          date_trunc("week", col("ts")).cast(DateType).as("wk"))
        .distinct()
      val maxWk = uw.agg(max("wk")).head.getDate(0)
      val w = Window.partitionBy("user_id").orderBy("wk")
      val st = uw
        .withColumn("prev", lag(col("wk"), 1).over(w))
        .withColumn("nxt", lead(col("wk"), 1).over(w))
        .withColumn("status",
          when(col("prev").isNull, "new")
            .when(datediff(col("wk"), col("prev")) === 7, "retained")
            .otherwise("resurrected"))
      val active = st.select(col("wk"), col("status"))
      val churned = st
        .filter((col("nxt").isNull || datediff(col("nxt"), col("wk")) > 7) &&
          date_add(col("wk"), 7) <= lit(maxWk))
        .select(date_add(col("wk"), 7).as("wk"), lit("churned").as("status"))
      active.unionAll(churned)
        .groupBy("wk")
        .agg(count(when(col("status") === "new", 1)).as("n_new"),
          count(when(col("status") === "retained", 1)).as("n_retained"),
          count(when(col("status") === "resurrected", 1)).as("n_resurrected"),
          count(when(col("status") === "churned", 1)).as("n_churned"))
        .orderBy("wk")
    }),

    // Power-user curve (the "L30"-style engagement histogram): how many
    // users were active on exactly k distinct days — the shape chart
    // that separates habit products from drive-by traffic. Two shrinking
    // aggregates (user-day distinct → per-user day count → histogram).
    "event_power_user_curve" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        .groupBy("user_id").agg(count(lit(1)).as("active_days"))
        .groupBy("active_days").agg(count(lit(1)).as("n_users"))
        .orderBy("active_days")
    }),

    // Lorenz concentration curve — per event type, rank users by how much
    // of that type's traffic they generate, cut into deciles, and report
    // each decile's share plus the cumulative share ("the top 10% of
    // committers produce X% of pushes" — the inequality view behind every
    // capacity/abuse discussion). The full-data pass is ONE per-(type,
    // user) count; the ntile/cumsum windows run over the already-
    // aggregated table (one row per active user per type — the
    // stat_spearman/event_rfm precedent; at billions of users swap exact
    // ntile for approx-quantile cuts). Shares are exact-integer ratios,
    // round(6); decile assignment is total-ordered by (count, user_id)
    // so both engines cut identical tie groups.
    "event_lorenz" -> ((s, dir) => {
      val cnt = Tables.events(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n"))
      val byActivity = Window.partitionBy("event_type")
        .orderBy(col("n"), col("user_id"))
      val dec = cnt
        .withColumn("decile", ntile(10).over(byActivity).cast(LongType))
        .groupBy("event_type", "decile")
        .agg(count(lit(1)).as("n_users"), sum("n").as("n_events"))
      val tot = dec.groupBy("event_type")
        .agg(sum("n_events").as("total"))
      dec.join(broadcast(tot), "event_type")
        .withColumn("cum", sum("n_events")
          .over(Window.partitionBy("event_type").orderBy("decile")))
        .select(col("event_type"), col("decile"), col("n_users"),
          col("n_events"),
          round(col("n_events").cast(DoubleType) / col("total"), 6)
            .as("events_share"),
          round(col("cum").cast(DoubleType) / col("total"), 6)
            .as("cum_share"))
        .orderBy("event_type", "decile")
    }),

    // Exact rolling-uniques ladder — DAU plus trailing 7-day and 28-day
    // distinct users per day (the WAU/MAU triplet every growth dashboard
    // leads with). Shape discipline: the corpus collapses to the DISTINCT
    // (user, day) table first (one exchange, |user-days| ≪ |events|);
    // each pair then fans out MAP-SIDE to the w window-end days it serves
    // via explode(sequence(day, day+w−1)) — an equality-keyed hash
    // aggregate, never a range join — and the trailing count is a count
    // DISTINCT over (day, user). Fanout is bounded by the window length
    // (7× / 28× the user-day table, not the corpus). At 100 TB the same
    // plan holds; if exact distinct per day is too hot, the drop-in is
    // day-partial HLL sketches merged over the window (agg_hll_merge).
    // Days outside the observed range that the fanout invents are dropped
    // by the inner join back to the observed-day spine (both engines
    // emit exactly the days with traffic).
    "event_rolling_uniques" -> ((s, dir) => {
      val ud = Tables.events(s, dir)
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      def trailing(w: Int, name: String) = ud
        .select(col("user_id"),
          explode(sequence(col("day"), date_add(col("day"), w - 1)))
            .as("day"))
        .groupBy("day")
        .agg(countDistinct("user_id").as(name))
      dau
        .join(trailing(7, "wau7"), "day")
        .join(trailing(28, "mau28"), "day")
        .orderBy("day")
    }),

    // The declared 100-TB drop-in for the exact ladder above (SURVEY K45),
    // now demonstrated: ONE pass over the corpus builds day-partial HLL
    // sketches (datasketches binary, mergeable); every trailing window then
    // rolls up from the |days| × window sketch table — the corpus is never
    // re-fanned. That inverts the exact plan's cost: fanout is 7×/28× per
    // DAY (a few KB of sketch each), not per user-day pair, and any new
    // window length (90-day, quarter) reuses the SAME partials without
    // touching raw data. No oracle (sketch estimates); AnalyticsOpsSpec
    // pins merged == single-pass per window and ±5% vs the exact key.
    "event_rolling_uniques_approx" -> ((s, dir) => {
      // The |days|-row sketch partial table is referenced three times (DAU
      // readout + both trailing windows) — persist it so the corpus is
      // scanned ONCE and every downstream pass rolls up sketch rows (at
      // scale the partials are the materialized MV the day's ingest job
      // already wrote; PlanSpec pins the single-scan shape).
      val partials = hllDayPartials(s, dir)
      partials.select(col("day"),
          hll_sketch_estimate(col("sketch")).as("dau_approx"))
        .join(hllTrailing(partials, 7, "wau7_approx"), "day")
        .join(hllTrailing(partials, 28, "mau28_approx"), "day")
        .orderBy("day")
    }),

    // ERROR-BOUND contract twin for the sketch ladder above (the
    // agg_approx_distinct_bound discipline): the exact DAU/WAU/MAU arm is
    // cross-engine verified, and the UNCHANGED sketch rollup — the SAME
    // cached day partials, the SAME union-merge per trailing window — must
    // land within 5% of it on EVERY day row at every decade (lgK = 12 ⇒
    // 3σ ≈ 5%; estimates are pure functions of the day sets, so no
    // flake). AnalyticsOpsSpec's one-shot ±5% pin becomes a swept,
    // per-row, hash-gated contract.
    "event_rolling_uniques_bound" -> ((s, dir) => {
      val ud = Tables.events(s, dir)
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      def exactT(w: Int, name: String) = ud
        .select(col("user_id"),
          explode(sequence(col("day"), date_add(col("day"), w - 1)))
            .as("day"))
        .groupBy("day")
        .agg(countDistinct("user_id").as(name))
      val partials = hllDayPartials(s, dir)
      dau
        .join(exactT(7, "wau7"), "day")
        .join(exactT(28, "mau28"), "day")
        .join(hllTrailing(partials, 7, "wau7_est"), "day")
        .join(hllTrailing(partials, 28, "mau28_est"), "day")
        .select(col("day"), col("dau"), col("wau7"), col("mau28"),
          (abs(col("wau7_est").cast(DoubleType) / col("wau7") - 1.0)
            <= 0.05).as("wau7_within"),
          (abs(col("mau28_est").cast(DoubleType) / col("mau28") - 1.0)
            <= 0.05).as("mau28_within"))
        .orderBy("day")
    }),

    // Longest activity streak per user — the classic gaps-and-islands
    // identity: on the distinct user-day table, (day − row_number) is
    // constant exactly within a run of consecutive days, so streaks fall
    // out of ONE ordered window plus a count — no self-join, no
    // recursion. The island anchor is integer day arithmetic (days since
    // epoch minus rank), bit-exact on both engines.
    "event_streaks" -> ((s, dir) => {
      val ud = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val w = Window.partitionBy("user_id").orderBy("day")
      ud
        .withColumn("anchor",
          datediff(col("day"), to_date(lit("1970-01-01")))
            - row_number().over(w))
        .groupBy("user_id", "anchor")
        .agg(count(lit(1)).as("len"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_streaks"),
          max("len").as("max_streak"))
        .orderBy("user_id")
    }),

    // Cohort LTV curve — cumulative purchase revenue per user by cohort
    // age (the payback chart under every acquisition-spend decision).
    // No dense cohort×age grid: revenue collapses to (cohort, week)
    // cells map-side, the running total is one window over that tiny
    // cell table, and cohort sizes join from the per-cohort aggregate.
    // Money stays DECIMAL through every sum (the repo-wide discipline);
    // the per-user division happens once at the end, round(6).
    "event_cohort_ltv" -> ((s, dir) => {
      val uw = Tables.events(s, dir)
        .select(col("user_id"),
          date_trunc("week", col("ts")).cast(DateType).as("wk"),
          col("event_type"), Tables.dec(col("value")).as("v"))
      val cohort = uw.groupBy("user_id").agg(min("wk").as("cohort"))
      val sizes = cohort.groupBy("cohort").agg(count(lit(1)).as("n_users"))
      val rev = uw.filter(col("event_type") === "purchase")
        .join(cohort, "user_id")
        .groupBy("cohort", "wk")
        .agg(sum("v").as("rev"))
      val w = Window.partitionBy("cohort").orderBy("wk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rev
        .withColumn("age_weeks", (datediff(col("wk"), col("cohort")) / 7)
          .cast(LongType))
        .withColumn("cum_rev", sum("rev").over(w))
        .join(broadcast(sizes), "cohort")
        .select(col("cohort"), col("age_weeks"), col("n_users"),
          round(col("cum_rev").cast(DoubleType) / col("n_users"), 6)
            .as("cum_rev_per_user"))
        .orderBy("cohort", "age_weeks")
    }),

    // Seasonally-adjusted anomaly flags — each (type, day) count scored
    // against ITS weekday's distribution (the event_seasonal_index
    // baseline turned into a z-test): Monday spikes aren't judged
    // against Sunday lulls. One (type, day) aggregate; means/sds come
    // from raw sums over the ≤ 7·|types| profile cells (Welch
    // discipline); comparison happens on round(6) z-scores so the flag
    // cut is deterministic cross-engine.
    "event_anomaly_seasonal" -> ((s, dir) => {
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
      daily.join(broadcast(prof.filter(col("sd") > 0)
          .select("event_type", "dow", "mu", "sd")),
          Seq("event_type", "dow"))
        .select(col("event_type"), col("day"), col("n").cast(LongType).as("n"),
          round(col("mu"), 6).as("expected"),
          Tables.nz(round((col("n") - col("mu")) / col("sd"), 6)).as("z"),
          (abs(round((col("n") - col("mu")) / col("sd"), 6)) > 2.0)
            .as("is_anomaly"))
        .orderBy("event_type", "day")
    }),

    // Autocorrelation function of the daily count series per event type
    // at lags 1..7 — the "is there weekly structure?" diagnostic that
    // justifies every seasonal model downstream. The full-data pass is
    // ONE daily aggregate; the lag pairing is a self-join of the
    // metadata-sized (type, day-index) table against a 7-row lag
    // spine (broadcast both — never a corpus shuffle). All pair sums
    // (Σn₁n₂, Σn₁, Σn₂) are EXACT integer arithmetic; the mean and
    // denominator come from per-type raw sums, so the final ACF is
    // identical IEEE ops on identical inputs, round(6).
    "event_autocorrelation" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("di",
          datediff(col("day"), to_date(lit("1970-01-01"))).cast(LongType))
      val stats = daily.groupBy("event_type")
        .agg(count(lit(1)).cast(DoubleType).as("k"),
          sum("n").cast(DoubleType).as("s"),
          sum(col("n") * col("n")).cast(DoubleType).as("q"))
        .withColumn("m", col("s") / col("k"))
        .withColumn("den", col("q") - col("s") * col("s") / col("k"))
        .filter(col("den") > 0)
      val lags = s.range(1, 8).select(col("id").as("lag"))
      val d2 = daily.select(col("event_type").as("et2"),
        col("di").as("di2"), col("n").as("n2"))
      daily.crossJoin(broadcast(lags))
        .join(d2, col("event_type") === col("et2")
          && col("di2") === col("di") + col("lag"))
        .groupBy("event_type", "lag")
        .agg(count(lit(1)).cast(DoubleType).as("c"),
          sum(col("n") * col("n2")).cast(DoubleType).as("s12"),
          sum("n").cast(DoubleType).as("s1"),
          sum("n2").cast(DoubleType).as("s2"))
        .join(broadcast(stats), "event_type")
        .select(col("event_type"), col("lag"),
          col("c").cast(LongType).as("n_pairs"),
          Tables.nz(round((col("s12") - col("m") * col("s1") - col("m") * col("s2")
            + col("c") * col("m") * col("m")) / col("den"), 6)).as("acf"))
        .orderBy("event_type", "lag")
    }),

    // Discrete periodogram of the daily count series per event type —
    // the frequency-domain "which cycle length dominates?" scan that
    // VALIDATES the weekly assumption the seasonal keys bake in (ACF
    // hints at it; the periodogram ranks it against every other candidate
    // period 2–14). Power(p) = (Σ ñ·cos 2πt/p)² + (Σ ñ·sin 2πt/p)² over
    // MEAN-CENTERED counts (raw counts leak the DC component into every
    // frequency). The full-data pass is the ONE daily aggregate; the
    // 13-row period spine broadcasts (the ACF lag-spine pattern) and the
    // trig argument uses pmod(day-index, p) — exact integer reduction, so
    // both engines evaluate cos/sin on identical small angles instead of
    // relying on large-argument libm reduction. Dominance verdict ranks
    // on the ROUNDED power with a period tiebreak (deterministic
    // cross-engine).
    "event_periodogram" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("di",
          datediff(col("day"), to_date(lit("1970-01-01"))).cast(LongType))
      val stats = daily.groupBy("event_type")
        .agg(count(lit(1)).cast(DoubleType).as("k"),
          sum("n").cast(DoubleType).as("s"))
        .withColumn("m", col("s") / col("k"))
        .select("event_type", "k", "m")
      val periods = s.range(2, 15).select(col("id").as("p"))
      val ang = lit(2.0 * math.Pi) * pmod(col("di"), col("p")) / col("p")
      val cn = col("n").cast(DoubleType) - col("m")
      val byType = Window.partitionBy("event_type")
      daily.join(broadcast(stats), "event_type")
        .crossJoin(broadcast(periods))
        .groupBy("event_type", "p")
        .agg(max(col("k")).cast(LongType).as("n_days"),
          sum(cn * cos(ang)).as("cs"),
          sum(cn * sin(ang)).as("sn"))
        .withColumn("power",
          round((col("cs") * col("cs") + col("sn") * col("sn"))
            / col("n_days"), 6))
        .withColumn("dominant",
          rank().over(byType.orderBy(col("power").desc, col("p"))) === 1)
        .select(col("event_type"), col("p").as("period"), col("n_days"),
          col("power"), col("dominant"))
        .orderBy("event_type", "period")
    }),

    // Classical seasonal decomposition of the daily count series —
    // additive STL-lite: trend = centered 7-day moving average (full
    // frames only), seasonal = the per-weekday mean of the detrended
    // series re-centered to sum to zero, residual = the rest. Every
    // stage after the ONE daily aggregate runs on metadata-sized
    // profile tables; residual subtracts the ROUNDED trend/seasonal so
    // both engines difference identical 6-dp inputs. Frame sums are
    // exact integers (counts), so the trend is drift-free by
    // construction.
    "event_seasonal_decompose" -> ((s, dir) => {
      val w7 = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-3, 3)
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val trended = daily
        .withColumn("wn", count(lit(1)).over(w7))
        .withColumn("ws", sum("n").over(w7))
        .filter(col("wn") === 7)
        .withColumn("trend", round(col("ws") / 7, 6))
        .withColumn("dt", col("n") - col("trend"))
        .withColumn("dow", (weekday(col("day")) + 1).cast(LongType))
      val dowAvg = trended.groupBy("event_type", "dow")
        .agg(sum("dt").as("sdt"), count(lit(1)).as("cdt"))
      val center = dowAvg.groupBy("event_type")
        .agg((sum(col("sdt") / col("cdt")) / count(lit(1))).as("ctr"))
      val seasonal = dowAvg.join(center, "event_type")
        .select(col("event_type"), col("dow"),
          Tables.nz(round(col("sdt") / col("cdt") - col("ctr"), 6)).as("seasonal"))
      trended.join(broadcast(seasonal), Seq("event_type", "dow"))
        .select(col("event_type"), col("day"), col("n"), col("trend"),
          col("seasonal"),
          Tables.nz(round(col("n") - col("trend") - col("seasonal"), 6)).as("residual"))
        .orderBy("event_type", "day")
    }),

    // Day-of-week seasonal index per event type — the load-profile
    // normalizer behind anomaly baselines and capacity planning
    // (index > 1 = busier-than-typical weekday). One (type, day)
    // aggregate collapses the corpus; the dow averaging and the index
    // normalizer run on the ≤ 7·|types| profile table (window over the
    // per-type 7-row partition — metadata-sized at any scale). Averages
    // are ratios of exact integer sums; round(6).
    "event_seasonal_index" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val dow = daily
        .groupBy(col("event_type"),
          (weekday(col("day")) + 1).cast(LongType).as("dow"))
        .agg(count(lit(1)).as("n_days"),
          (sum("n").cast(DoubleType) / count(lit(1))).as("avg_daily"))
      val w = Window.partitionBy("event_type")
      dow.select(col("event_type"), col("dow"), col("n_days"),
          round(col("avg_daily"), 6).as("avg_daily"),
          round(col("avg_daily")
            / (sum(col("avg_daily")).over(w) / count(lit(1)).over(w)), 6)
            .as("seasonal_idx"))
        .orderBy("event_type", "dow")
    }),

    // Kaplan-Meier survival estimator over user lifetimes — the
    // churn-analysis curve. Lifetime = days between a user's first and
    // last event; a user is an observed churn if their last event is ≥ 7
    // days before the corpus end, else right-censored (still active).
    // Full pass = ONE per-user aggregate; everything after runs on the
    // distinct-lifetime table (≤ day-range rows — metadata-sized at any
    // corpus scale, the stat_cramers_v cell-table precedent). At-risk
    // counts are a reversed cumulative sum; the survival product is the
    // mergeable exp(Σ ln) form (agg_product discipline), with an explicit
    // zero flag once d ≥ n so neither engine takes ln(0). round(6).
    "event_kaplan_meier" -> ((s, dir) => {
      val maxDay = Tables.events(s, dir).agg(max(to_date(col("ts")))).head.getDate(0)
      val life = Tables.events(s, dir)
        .groupBy("user_id")
        .agg(datediff(max(to_date(col("ts"))), min(to_date(col("ts"))))
            .cast(LongType).as("lifetime_days"),
          (datediff(lit(maxDay), max(to_date(col("ts")))) >= 7).as("observed"))
        .groupBy("lifetime_days")
        .agg(count(when(col("observed"), 1)).as("n_deaths"),
          count(when(!col("observed"), 1)).as("n_censored"))
      val wAll = Window.orderBy("lifetime_days")
      val atRisk = Window.orderBy("lifetime_days")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val cum = wAll.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      life
        .withColumn("n_at_risk",
          sum(col("n_deaths") + col("n_censored")).over(atRisk))
        .withColumn("lterm",
          when(col("n_deaths") > 0 && col("n_deaths") < col("n_at_risk"),
            log(lit(1.0) - col("n_deaths").cast(DoubleType) / col("n_at_risk"))))
        .withColumn("dead_end", max(
          when(col("n_deaths") >= col("n_at_risk"), 1).otherwise(0)).over(cum))
        .select(col("lifetime_days"), col("n_at_risk"), col("n_deaths"),
          col("n_censored"),
          when(col("dead_end") === 1, lit(0.0))
            .otherwise(round(coalesce(exp(sum(col("lterm")).over(cum)), lit(1.0)), 6))
            .as("survival"))
        .orderBy("lifetime_days")
    }),

    // Interval-union coverage — total time each user was "active" with
    // overlapping activity intervals merged (the intervalLengthSum shape;
    // intervals are [ts, ts + value seconds], as event_max_concurrent).
    // Classic island sweep on ONE user_id exchange: a new island starts
    // where the start exceeds the running max of prior ends; islands then
    // collapse in the same keyed aggregate. Durations are exact epoch
    // MICROSECOND differences (unix_micros / epoch_us) — integer algebra,
    // no float, no tz: bit-exact cross-engine with no rounding.
    "event_interval_union" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("te"), col("event_id"))
      val e2 = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          (col("ts") + expr("make_interval(0, 0, 0, 0, 0, 0, CAST(floor(value) AS INT))"))
            .as("te"))
        .withColumn("pmax",
          max(col("te")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("isl", sum(
          when(col("pmax").isNull || col("ts") > col("pmax"), 1).otherwise(0))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      e2.groupBy("user_id", "isl")
        .agg(min(col("ts")).as("is_s"), max(col("te")).as("is_e"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_islands"),
          sum(unix_micros(col("is_e")) - unix_micros(col("is_s")))
            .as("covered_us"))
        .orderBy("user_id")
    }),

    // One-sided CUSUM changepoint detection per user's value series. The
    // textbook recursion s_i = max(0, s_{i-1} + (v_i − μ)) is not a
    // window function, but it IS expressible as two windows: with
    // cum_i = Σ_{j≤i}(v_j − μ), s_i = cum_i − min_{j≤i} cum_j — a
    // cumulative sum minus a running min, both on the SAME ordered
    // user_id window (one exchange, no recursion, no UDF). μ and the
    // alarm threshold h = 3σ come from whole-partition window aggregates
    // with raw-sum algebra (Welch discipline). Alarms compare at
    // round(6) so the cut is deterministic cross-engine.
    "event_cusum" -> ((s, dir) => {
      val p = Window.partitionBy("user_id")
      val o = p.orderBy(col("ts"), col("event_id"))
      val cumW = o.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // Determinism at any scale (sf1 ramp lesson, twice over): (1) the
      // whole-partition Σv / Σv² accumulate in DECIMAL — a double window
      // sum has no defined order and its ulps shift mu across engines;
      // (2) the running drift NEVER accumulates doubles at all:
      // cum_i = S_i − i·mu, where S_i is the EXACT decimal running sum —
      // a double cumsum of (v − mu) diverges between engines even on
      // identical inputs because windowed summation association differs
      // (sequential here, pairwise segment-tree in DuckDB). Both identities
      // are algebra, not approximation; every double below derives from
      // bit-identical inputs by the same scalar tree.
      // r9 (halfcell sweep): σ from EXACT INTEGER CENT moments — the
      // decimal-sums-cast-to-double form still computed s²/n in double,
      // so a CONSTANT value series (true σ = 0, exactly the planted
      // halfcell users) could land the variance an ulp negative (DuckDB
      // sqrt raises, Spark NaNs). n·Σc² − (Σc)² in integers is exact and
      // ≥ 0 by Cauchy–Schwarz; the cross term widens to DECIMAL(38,0)
      // (n·Σc² can pass Long at ~10⁸ rows/user; ANSI raises far earlier
      // on the Long Σc² itself — fail-loud, never wrap).
      val cents = (Tables.dec(col("value")) * 100).cast(LongType)
      val base = Tables.events(s, dir)
        .withColumn("c", cents)
        .withColumn("n", count(lit(1)).over(p))
        .filter(col("n") > 1)
        .withColumn("sc", sum(col("c")).over(p))
        .withColumn("q4", sum(col("c") * col("c")).over(p))
        .withColumn("mu", col("sc").cast(DoubleType) / (lit(100.0) * col("n")))
        .withColumn("sd", sqrt(
          (col("n").cast(DecimalType(38, 0)) * col("q4")
            - col("sc").cast(DecimalType(38, 0)) * col("sc")).cast(DoubleType)
            / (lit(10000.0) * col("n") * (col("n") - 1))))
        .withColumn("cum",
          sum(col("c")).over(cumW).cast(DoubleType) / 100.0
            - row_number().over(o).cast(DoubleType) * col("mu"))
        // the running min must include the EMPTY prefix (cum_0 = 0), or an
        // all-positive drift series never resets to the textbook s_1
        .withColumn("cusum",
          col("cum") - least(min(col("cum")).over(cumW), lit(0.0)))
      base.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          round(max(col("cusum")), 6).as("max_cusum"),
          count(when(round(col("cusum"), 6) > round(lit(3.0) * col("sd"), 6), 1))
            .as("n_alarms"))
        .orderBy("user_id")
    }),

    // DAU / WAU / stickiness. WAU is NOT a per-day distinct over a range
    // window (quadratic re-scan per day at scale): each user-day
    // contributes to exactly the 7 windows it can appear in (explode 0..6,
    // date_add), turning the trailing-week membership into an EQUALITY
    // join key, then one distinct count per window day. The DuckDB twin
    // phrases the same membership as a range join — identical result, and
    // the divergence is the point: the explode formulation is the one that
    // scales, the range join is the one that reads naturally in SQL.
    "event_dau_wau" -> ((s, dir) => {
      val ud = Tables.events(s, dir)
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val dau = ud.groupBy("day").agg(countDistinct(col("user_id")).as("dau"))
      val wau = ud
        .select(col("user_id"), explode(sequence(lit(0), lit(6))).as("i"),
          col("day"))
        .select(col("user_id"), date_add(col("day"), col("i")).as("day"))
        .groupBy("day").agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, "day")
        .select(col("day"), col("dau"), col("wau"),
          (col("dau").cast(DoubleType) / col("wau").cast(DoubleType))
            .as("stickiness"))
        .orderBy("day")
    }),

    // ORDER BY ... WITH FILL analog: dense hourly per-type activity series.
    // Hours with no events appear with n = 0, and the running total carries
    // across the filled gaps — the two things a sparse GROUP BY can't give.
    "event_gap_fill" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val counts = e
        .groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
        .agg(count(lit(1)).as("n_raw"))
      val hours = e
        .agg(min(date_trunc("hour", col("ts"))).as("h_min"),
          max(date_trunc("hour", col("ts"))).as("h_max"))
        .select(explode(sequence(col("h_min"), col("h_max"),
          expr("INTERVAL 1 HOUR"))).as("hr"))
      val types = e.select("event_type").distinct()
      hours.crossJoin(broadcast(types))
        .join(counts, Seq("hr", "event_type"), "left")
        .select(col("hr"), col("event_type"),
          coalesce(col("n_raw"), lit(0L)).as("n"))
        .withColumn("cum_n",
          sum("n").over(Window.partitionBy("event_type").orderBy("hr")))
        .orderBy("hr", "event_type")
    }),

    // Batch sessionization — gaps-and-islands: a >30-min silence starts a
    // new session (the batch twin of the G4 `session_window` key, which is
    // streaming-native; warehouses phrase it exactly like this). One
    // user_id exchange carries the lag, the running-sum session counter and
    // the final per-session aggregate; per-user state is the row itself.
    // (user_id, sess_n) is unique, so the output order is total.
    "event_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"), 1L)
            .otherwise(0L))
        .withColumn("sess_n", sum("new_sess").over(run))
        .groupBy("user_id", "sess_n")
        .agg(min("ts").as("session_start"), max("ts").as("session_end"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("sess_n"), col("session_start"),
          col("session_end"),
          (col("session_end").cast(LongType) -
            col("session_start").cast(LongType)).as("duration_s"),
          col("n_events"))
        .orderBy("user_id", "sess_n")
    }),

    // Corpus-level session health summary — the one-row readout product
    // teams watch (bounce rate, events/session, duration percentiles),
    // composed over the SAME 30-minute-gap islands as `event_sessionize`:
    // the keyed window exchange builds sessions, the per-session rows
    // (≪ events) flow into one global reduce. Durations are exact integer
    // seconds (epoch-second subtraction before any float); percentiles
    // exact (`percentile` ≡ DuckDB `quantile_cont` — approx_percentile at
    // extreme session counts, same decision output).
    "event_session_stats" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sessions = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            col("ts") > col("prev_ts") + expr("INTERVAL 30 MINUTES"), 1L)
            .otherwise(0L))
        .withColumn("sess_n", sum("new_sess").over(run))
        .groupBy("user_id", "sess_n")
        .agg(count(lit(1)).as("n_events"),
          (max(col("ts")).cast(LongType) - min(col("ts")).cast(LongType))
            .as("duration_s"))
      sessions.agg(
        count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounce"),
        round(sum(when(col("n_events") === 1, 1L).otherwise(0L))
          .cast(DoubleType) / count(lit(1)), 6).as("bounce_rate"),
        round(sum("n_events").cast(DoubleType) / count(lit(1)), 6)
          .as("avg_events"),
        round(avg("duration_s"), 6).as("avg_duration_s"),
        // one array-percentile buffer for both cuts (r10, same doubles)
        percentile(col("duration_s"), array(lit(0.5), lit(0.9))).as("qs"))
        .select(col("n_sessions"), col("n_bounce"), col("bounce_rate"),
          col("avg_events"), col("avg_duration_s"),
          round(element_at(col("qs"), 1), 6).as("p50_duration_s"),
          round(element_at(col("qs"), 2), 6).as("p90_duration_s"))
    }),

    // Seasonal-naive forecast — the baseline every real forecasting
    // system is benchmarked against (and the one a capacity dashboard
    // actually ships first): next-7-days daily count per event type =
    // last observed trend level + that weekday's seasonal component,
    // both taken from the `event_seasonal_decompose` machinery. All
    // heavy work is the ONE daily aggregate; trend/seasonal/projection
    // run on metadata-sized profile tables. Forecasts difference ROUNDED
    // parts (the decompose discipline), so both engines emit identical
    // 6-dp values.
    "event_forecast_baseline" -> ((s, dir) => {
      val w7 = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-3, 3)
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val trended = daily
        .withColumn("wn", count(lit(1)).over(w7))
        .withColumn("ws", sum("n").over(w7))
        .filter(col("wn") === 7)
        .withColumn("trend", round(col("ws") / 7, 6))
        .withColumn("dt", col("n") - col("trend"))
        .withColumn("dow", (weekday(col("day")) + 1).cast(LongType))
      // r10 (guide §2.3): last trend point is an argmax on day (unique per
      // type) — max_by replaces the rank-1 window's exchange + sort.
      val lastTrend = trended
        .groupBy("event_type")
        .agg(max_by(struct(col("day"), col("trend")), col("day")).as("top"))
        .select(col("event_type"), col("top.day").as("last_day"),
          col("top.trend").as("trend"))
      val dowAvg = trended.groupBy("event_type", "dow")
        .agg(sum("dt").as("sdt"), count(lit(1)).as("cdt"))
      val center = dowAvg.groupBy("event_type")
        .agg((sum(col("sdt") / col("cdt")) / count(lit(1))).as("ctr"))
      val seasonal = dowAvg.join(center, "event_type")
        .select(col("event_type"), col("dow"),
          Tables.nz(round(col("sdt") / col("cdt") - col("ctr"), 6)).as("seasonal"))
      val offsets = (1 to 7).map(i => lit(i)).toArray
      lastTrend
        .select(col("event_type"), col("last_day"), col("trend"),
          explode(array(offsets: _*)).as("i"))
        .withColumn("day", date_add(col("last_day"), col("i")))
        .withColumn("dow", (weekday(col("day")) + 1).cast(LongType))
        .join(broadcast(seasonal), Seq("event_type", "dow"))
        .select(col("event_type"), col("day"),
          Tables.nz(round(col("trend") + col("seasonal"), 6)).as("forecast"))
        .orderBy("event_type", "day")
    }),

    // ANY-ORDER funnel (ClickHouse windowFunnel's relaxed mode next to
    // `event_funnel`'s strict one): a user's anchor is the FIRST of the
    // three step types they ever perform; a step counts if its first
    // occurrence lands within 7 days of that anchor, in any order. One
    // conditional-aggregate pass per user (three firsts collapse map-side
    // before the single user_id exchange), then a tiny distribution count.
    "event_funnel_any_order" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .filter(col("event_type").isin("signup", "click", "purchase"))
      val firsts = e.groupBy("user_id")
        .agg(
          min(when(col("event_type") === "signup", col("ts"))).as("t_s"),
          min(when(col("event_type") === "click", col("ts"))).as("t_c"),
          min(when(col("event_type") === "purchase", col("ts"))).as("t_p"))
        .withColumn("anchor", least(col("t_s"), col("t_c"), col("t_p")))
      val horizon = col("anchor") + expr("INTERVAL 7 DAYS")
      firsts
        .withColumn("n_steps",
          when(col("t_s").isNotNull && col("t_s") <= horizon, 1L).otherwise(0L) +
          when(col("t_c").isNotNull && col("t_c") <= horizon, 1L).otherwise(0L) +
          when(col("t_p").isNotNull && col("t_p") <= horizon, 1L).otherwise(0L))
        .groupBy("n_steps")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("n_steps")
    }),

    // SCD2 history build — compact an append-only event log into
    // slowly-changing-dimension rows: consecutive equal states collapse
    // into one row carrying [valid_from, valid_to) and an is_current flag.
    // This is the canonical "replay the archive into a dimension table"
    // read the reference's ReplacingMergeTree model implies (ref:
    // README.md:14-16 — merge-time replace keeps latest; SCD2 is the
    // keep-ALL-versions twin). Change detection (lag != state), the
    // running version counter, the per-version aggregate and the
    // valid_to lead all ride ONE user_id window exchange; at 100 TB
    // user_id is the well-spread shuffle key and per-user history is
    // small, so no partition outgrows memory.
    "scd2_history" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val versioned = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("state"))
        .withColumn("prev_state", lag(col("state"), 1).over(w))
        .withColumn("chg",
          when(col("prev_state").isNull ||
            col("prev_state") =!= col("state"), 1L).otherwise(0L))
        .withColumn("version", sum("chg").over(run))
      val byVersion = Window.partitionBy("user_id").orderBy("version")
      versioned
        .groupBy("user_id", "version")
        .agg(min("state").as("state"), // constant within the group
          min("ts").as("valid_from"), count(lit(1)).as("n_events"))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(byVersion))
        .select(col("user_id"), col("version"), col("state"),
          col("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current"), col("n_events"))
        .orderBy("user_id", "version")
    }),

    // Marketing attribution: for every converted user, the first- and
    // last-touch event types strictly before their first purchase, counted
    // per (first, last) pair. Two row_number passes over the same user_id
    // window exchange (ascending + descending — ties broken by event_id so
    // both ends are deterministic), then a tiny pair-space count.
    "event_attribution" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select("user_id", "event_type", "ts", "event_id")
      val firstPurchase = e.filter(col("event_type") === "purchase")
        .groupBy("user_id").agg(min("ts").as("pt"))
      val pre = e.join(firstPurchase, "user_id").filter(col("ts") < col("pt"))
      // r10 (guide §2.3/§2.4): both touch ends are partition-wide argmin/
      // argmax — min_by/max_by on the (ts, event_id) order key computes
      // them in ONE partial-aggregating hash pass, replacing two full
      // window sorts (asc + desc) plus a rejoin of their rank-1 rows. The
      // struct order key reproduces the windows' (ts, event_id) total
      // order exactly, so the selected rows are identical.
      pre.groupBy("user_id")
        .agg(
          min_by(col("event_type"), struct(col("ts"), col("event_id")))
            .as("first_touch"),
          max_by(col("event_type"), struct(col("ts"), col("event_id")))
            .as("last_touch"))
        .groupBy("first_touch", "last_touch")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("first_touch", "last_touch")
    }),

    // Linear interpolation over the dense hour grid — the ClickHouse
    // `WITH FILL ... INTERPOLATE` analog and the step past gap-fill
    // (zeros) and forward-fill (staircase): missing hours get the value
    // the line between their known neighbors passes through. Known points
    // are hourly decimal-exact averages; the four neighbor carries ride
    // ONE event_type window exchange over the broadcast-grid left join.
    // DETERMINISM (r7 — the sf1 sweep caught a 6th-decimal cell where the
    // TRUE hourly average sits EXACTLY on a 6-dp half, 43.4728125: Spark's
    // BigDecimal-on-the-binary-double round and DuckDB's multiply-then-
    // round disagree on the same double at true halves, the documented
    // residual risk of round(x,6) on doubles). Fix: never round a double.
    // Every output value here is a RATIONAL of exact integers — the known
    // average is cents/(100·c) and the interpolated value is
    //   [S_p·c_n·(n−k) + S_n·c_p·k] / (c_p·c_n·n·100)
    // with k/n integer HOUR deltas — so HALF-UP rounding to 6 dp is done
    // EXACTLY in integer space on both engines:
    //   round6(p/q) = (2·p·10⁶ + q) div (2·q)   (p, q > 0)
    // then one long→double conversion + /1e6 (both correctly rounded and
    // engine-independent). The interp numerator·10⁶ can reach ~10²² so the
    // div runs in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB). Edge hours
    // with only one known side stay null — fabricating a flat
    // extrapolation would be a lie the monitoring consumer can't detect.
    "event_interpolate" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val known = e
        .groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
        .agg(sum(dec(col("value"))).as("S"), count(lit(1)).as("c"))
        .select(col("hr"), col("event_type"),
          (col("S") * 100).cast(LongType).as("sc"), col("c"))
      val hours = e
        .agg(min(date_trunc("hour", col("ts"))).as("h_min"),
          max(date_trunc("hour", col("ts"))).as("h_max"))
        .select(explode(sequence(col("h_min"), col("h_max"),
          expr("INTERVAL 1 HOUR"))).as("hr"))
      val types = e.select("event_type").distinct()
      val ord = Window.partitionBy("event_type").orderBy("hr")
      val prec = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val folw = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val knownHr = when(col("sc").isNotNull, col("hr"))
      val kH = expr("timestampdiff(HOUR, pt, hr)")
      val nH = expr("timestampdiff(HOUR, pt, nt)")
      hours.crossJoin(broadcast(types))
        .join(known, Seq("hr", "event_type"), "left")
        .withColumn("psc", last(col("sc"), ignoreNulls = true).over(prec))
        .withColumn("pcn", last(col("c"), ignoreNulls = true).over(prec))
        .withColumn("pt", last(knownHr, ignoreNulls = true).over(prec))
        .withColumn("nsc", first(col("sc"), ignoreNulls = true).over(folw))
        .withColumn("ncn", first(col("c"), ignoreNulls = true).over(folw))
        .withColumn("nt", first(knownHr, ignoreNulls = true).over(folw))
        // ADVICE r7 #2: the num/den products must ALREADY be exact — a
        // Long num wraps silently in Spark (non-ANSI) while DuckDB raises
        // on BIGINT overflow, so the first factor of every product is
        // widened to DECIMAL(38,0) (HUGEINT in the oracle twin) BEFORE the
        // multiplications, not only at the final *10⁶ step.
        .withColumn("num",
          col("psc").cast(DecimalType(38, 0)) * col("ncn") * (nH - kH) +
            col("nsc").cast(DecimalType(38, 0)) * col("pcn") * kH)
        .withColumn("den",
          col("pcn").cast(DecimalType(38, 0)) * col("ncn") * nH * lit(100L))
        .withColumn("v6",
          expr("(2 * sc * 10000 + c) div (2 * c)").cast(DoubleType) / 1e6)
        .withColumn("i6",
          expr("(2 * num * 1000000 + den) div (2 * den)")
            .cast(DoubleType) / 1e6)
        .select(col("hr"), col("event_type"), col("v6").as("v"),
          when(col("sc").isNotNull, col("v6"))
            .when(col("num").isNotNull, col("i6")).as("interp"))
        .orderBy("hr", "event_type")
    }),

    // Exponential moving average (ClickHouse `exponentialMovingAverage`
    // analog) over the daily event-count series — the smoothing every
    // monitoring dashboard applies before thresholding. Phrased as a
    // FINITE trailing window (8 taps, α=0.3 — weight beyond 8 steps is
    // 0.7⁸ < 6%, renormalized away): the infinite recurrence is inherently
    // sequential, but the truncated kernel is just 8 lag() taps riding ONE
    // window exchange, mergeable and restartable like any other windowed
    // aggregate. Terms are summed in fixed j=0..7 order on both engines;
    // round(6) absorbs libm pow() ulps.
    "window_ema" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      val terms = (0 until 8).map { j =>
        val wt = lit(0.3 * math.pow(0.7, j))
        val lj = lag(col("n"), j).over(w)
        (when(lj.isNotNull, wt * lj).otherwise(lit(0.0)),
          when(lj.isNotNull, wt).otherwise(lit(0.0)))
      }
      val num = terms.map(_._1).reduce(_ + _)
      val den = terms.map(_._2).reduce(_ + _)
      Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("ema", round(num / den, 6))
        .orderBy("event_type", "day")
    }),

    // Bounding ratio per user (ClickHouse `boundingRatio` analog): the
    // slope between the FIRST and LAST point of the (t, value) series —
    // the cheapest "net rate of change" a counter/gauge dashboard reads
    // (e.g. value-per-second drift over the whole observation span).
    // first/last ride ONE keyed full-frame window (same exchange the
    // other per-user series keys use); the per-user division happens on
    // the |users|-row reduce. Single-point users yield NULL via the
    // pinned NULLIF (zero span), never ±Inf.
    "event_bounding_ratio" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("t"), col("value"))
        .withColumn("fv", first("value").over(w))
        .withColumn("lv", last("value").over(w))
        .withColumn("ft", first("t").over(w))
        .withColumn("lt", last("t").over(w))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          max("fv").as("fv"), max("lv").as("lv"),
          max("ft").as("ft"), max("lt").as("lt"))
        .select(col("user_id"), col("n_events"),
          round((col("lt") - col("ft")).cast(DoubleType) / 1e6, 6).as("span_s"),
          Tables.nz(round((col("lv") - col("fv"))
            / nullif((col("lt") - col("ft")).cast(DoubleType) / 1e6, lit(0.0)),
            6)).as("rate_per_s"))
        .orderBy("user_id")
    }),

    // EVENT-TIME exponentially-decayed average per user (ClickHouse
    // `exponentialTimeDecayedAvg` analog; τ = 1 h) — the recency-weighted
    // engagement score where the weight is e^{−Δt/τ} of the REAL gap, not
    // a row offset (the sibling of row-kernel `window_ema`). The infinite
    // recurrence is inherently sequential and its prefix-sum rewrite
    // (Σ v·e^{t/τ} running sums) is summation-ORDER-sensitive across
    // engines; the 8-tap truncated kernel instead sums in fixed j=0..7
    // order on both engines (the window_ema discipline) — the dropped
    // tail is < e^{−Δt₈/τ} of the weight mass, and the kernel is 8 lag()
    // taps riding ONE keyed window exchange, mergeable and restartable.
    "window_time_decay" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("t", "event_id")
      val tauUs = 3.6e9 // 1 hour in µs
      val base = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("t"), col("value"))
      val terms = (0 until 8).map { j =>
        val vj = lag(col("value"), j).over(w)
        val tj = lag(col("t"), j).over(w)
        val wt = exp((tj - col("t")).cast(DoubleType) / lit(tauUs))
        (when(vj.isNotNull, vj * wt).otherwise(lit(0.0)),
          when(vj.isNotNull, wt).otherwise(lit(0.0)))
      }
      val num = terms.map(_._1).reduce(_ + _)
      val den = terms.map(_._2).reduce(_ + _)
      base
        .withColumn("decayed_avg", round(num / den, 6))
        .select(col("user_id"), col("event_id"), col("value"),
          col("decayed_avg"))
        .orderBy("user_id", "event_id")
    }),

    // Interval join, banded — the scale-safe phrasing of "assign every
    // event to the global error-incident window covering it". A naive
    // interval join has no equality key and plans as a nested loop; the
    // banded form explodes each incident into the hours it covers (bounded
    // by incident duration) and equi-joins on the hour, so the fact table
    // shuffles once on a well-spread key and the exact [start, end] filter
    // runs post-join. Incidents are 30-min-gap islands of the error
    // sub-stream, built per day partition (never one global window).
    "join_interval_bucketed" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val wi = Window.partitionBy("d").orderBy("ts", "event_id")
      val run = wi.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val inc = e.filter(col("event_type") === "error")
        .select(to_date(col("ts")).as("d"), col("ts"), col("event_id"))
        .withColumn("prev", lag(col("ts"), 1).over(wi))
        .withColumn("brk",
          when(col("prev").isNull ||
            col("ts") > col("prev") + expr("INTERVAL 30 MINUTES"), 1L)
            .otherwise(0L))
        .withColumn("inc_n", sum("brk").over(run))
        .groupBy(col("d").as("inc_day"), col("inc_n"))
        .agg(min("ts").as("inc_start"), max("ts").as("inc_end"))
      val bands = inc.select(col("inc_day"), col("inc_n"),
        col("inc_start"), col("inc_end"),
        explode(sequence(date_trunc("hour", col("inc_start")),
          date_trunc("hour", col("inc_end")),
          expr("INTERVAL 1 HOUR"))).as("hr"))
      e.withColumn("hr", date_trunc("hour", col("ts")))
        .join(bands, Seq("hr"))
        .filter(col("ts").between(col("inc_start"), col("inc_end")))
        .select(col("event_id"), col("inc_day"), col("inc_n"), col("inc_start"))
        .orderBy("event_id")
    }),

    // Full cohort retention MATRIX (generalizing `event_retention`'s single
    // cohort): every signup-week cohort × week offset 0..3, distinct active
    // users — the grid every growth dashboard renders. Week index is exact
    // integer arithmetic from a fixed epoch; activity collapses to distinct
    // (user, week) pairs BEFORE any join (the 100-TB trick: the matrix
    // join touches user-weeks, not raw events); the pivot is over a fixed
    // tiny offset domain so the output schema is static.
    "event_retention_matrix" -> ((s, dir) => {
      val acts = Tables.events(s, dir)
        .select(col("user_id"),
          floor(datediff(to_date(col("ts")), lit("2024-01-01").cast(DateType))
            / lit(7.0)).as("w"))
        .distinct()
      val cohorts = acts.groupBy("user_id").agg(min("w").as("cohort_week"))
      val m = acts.join(cohorts, "user_id")
        .withColumn("off", col("w") - col("cohort_week"))
        .groupBy("cohort_week")
        .pivot("off", Seq(0, 1, 2, 3))
        .agg(countDistinct("user_id"))
      m.select(col("cohort_week"),
          coalesce(col("0"), lit(0L)).as("w0"),
          coalesce(col("1"), lit(0L)).as("w1"),
          coalesce(col("2"), lit(0L)).as("w2"),
          coalesce(col("3"), lit(0L)).as("w3"))
        .orderBy("cohort_week")
    }),

    // Time-to-convert latency distribution — the funnel family's missing
    // axis: not HOW MANY users convert but HOW LONG conversion takes.
    // First click per user, first purchase AT/AFTER that click, then the
    // exact quantile ladder over the per-user deltas (integer seconds —
    // timestamps are µs-exact, so the quantile interpolation sees
    // identical inputs on both engines). Two user_id exchanges (the
    // anchor aggregate, the purchase-after-anchor aggregate), then a
    // single-row reduce.
    "event_conversion_time" -> ((s, dir) => {
      val e = Tables.events(s, dir).select("user_id", "event_type", "ts")
      val anchor = e.filter(col("event_type") === "click")
        .groupBy("user_id").agg(min("ts").as("c_ts"))
      val conv = e.filter(col("event_type") === "purchase")
        .join(anchor, "user_id")
        .filter(col("ts") >= col("c_ts"))
        .groupBy("user_id").agg(min("ts").as("p_ts"), min("c_ts").as("c_ts"))
        .select((unix_micros(col("p_ts")) - unix_micros(col("c_ts")))
          .as("delta_us"))
      conv.agg(
          count(lit(1)).as("n_converted"),
          // one array-percentile buffer for both cuts (r10, same doubles)
          percentile(col("delta_us"), array(lit(0.5), lit(0.9))).as("qs"))
        .select(col("n_converted"),
          round(element_at(col("qs"), 1) / 1e6, 6).as("median_s"),
          round(element_at(col("qs"), 2) / 1e6, 6).as("p90_s"))
    }),

    // Day-over-day audience overlap — exact Jaccard between consecutive
    // days' user sets ("how much of today's audience is yesterday's?"),
    // the set-similarity reading of retention. Distinct (day, user) pairs
    // collapse FIRST (the same trick as the retention matrix), the
    // intersection is an equality self-join on (user, day+1), and set
    // sizes join back on the day — every shuffle equality-keyed, counts
    // exact integers.
    "event_day_overlap" -> ((s, dir) => {
      val du = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"))
        .distinct()
      val sizes = du.groupBy("d").agg(count(lit(1)).as("n"))
      val inter = du.as("a")
        .join(du.as("b"),
          col("a.user_id") === col("b.user_id") &&
            date_add(col("a.d"), 1) === col("b.d"))
        .groupBy(col("a.d").as("d"))
        .agg(count(lit(1)).as("n_both"))
      sizes.as("s1")
        .join(sizes.as("s2"), date_add(col("s1.d"), 1) === col("s2.d"))
        .join(inter, col("s1.d") === inter("d"), "left")
        .select(col("s1.d").as("d"), col("s1.n").as("n_day"),
          col("s2.n").as("n_next"),
          coalesce(col("n_both"), lit(0L)).as("n_both"))
        .withColumn("jaccard",
          round(col("n_both").cast(DoubleType) /
            (col("n_day") + col("n_next") - col("n_both")), 6))
        .orderBy("d")
    }),

    // EXACT mergeable set algebra via Spark's native bitmap aggregates
    // (`bitmap_construct_agg` / `bitmap_or_agg` / `bitmap_count`) — the
    // ClickHouse `groupBitmap` analog, completing the set-sketch ladder:
    // HLL (union-only estimate) → theta (union+intersect estimate) →
    // bitmap (union+intersect EXACT, mergeable, persistable as an MV).
    // Day indexes are densified against the corpus min day so positions
    // stay in the first bitmap buckets; intersection falls out of
    // inclusion-exclusion on the two per-type counts and the OR-merged
    // union — no pairwise join, and every aggregate is mergeable
    // bitmap bytes (ANDless engines ship exactly this identity).
    "agg_bitmap_overlap" -> ((s, dir) => {
      val minDay = Tables.events(s, dir).agg(min(to_date(col("ts")))).head.getDate(0)
      val d = Tables.events(s, dir)
        .filter(col("event_type").isin("purchase", "click"))
        .select(col("event_type"),
          (datediff(to_date(col("ts")), lit(minDay)) + 1).as("idx"))
        .distinct()
      val bm = d
        .groupBy(col("event_type"), expr("bitmap_bucket_number(idx)").as("bucket"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(idx))").as("bm"))
      val perType = bm.groupBy("event_type")
        .agg(sum(expr("bitmap_count(bm)")).as("days"))
      val un = bm.groupBy("bucket")
        .agg(expr("bitmap_or_agg(bm)").as("u"))
        .agg(sum(expr("bitmap_count(u)")).as("days_union"))
      perType.filter(col("event_type") === "purchase")
        .select(col("days").as("days_purchase"))
        .crossJoin(perType.filter(col("event_type") === "click")
          .select(col("days").as("days_click")))
        .crossJoin(un)
        .select(col("days_purchase"), col("days_click"), col("days_union"),
          (col("days_purchase") + col("days_click") - col("days_union"))
            .as("days_intersect"))
    }),

    // The SKETCH form of day-over-day overlap — mergeable theta
    // sketches per day, intersected pairwise: the ClickHouse
    // `uniqTheta`/`groupBitmapAnd` analog and the 100-TB path where
    // `event_day_overlap`'s exact self-join re-scans raw events for every
    // audience question. Day sketches are O(k) bytes, persistable as an
    // MV, and answer ANY day/audience combination (union AND intersection
    // — the algebra HLL lacks) from sketch bytes alone. The sketches are
    // Spark's DataSketches built-ins (`theta_sketch_agg` at lgNomEntries
    // 12, i.e. k = 4096, `theta_intersection`, `theta_union`,
    // `theta_sketch_estimate`).
    // Oracle-pairable by contract: the sketch is EXACT while a day's
    // distinct count ≤ k (theta never trips), and test-data audiences
    // (≤ ~1.4k/day at sf0.1) sit far under k=4096, so the estimates
    // equal the exact counts; beyond k the key degrades to ±1/√k
    // relative error (the approximate regime is Spark's QuickSelect
    // sketch, pinned in ThetaSketchSpec against the built-ins, not here).
    "agg_theta_intersect" -> ((s, dir) => thetaDayOverlap(Tables.events(s, dir))),

    // The EXACT-REGIME sweep twin of agg_theta_intersect (VERDICT r7 ask
    // #3): the original key's oracle is only valid while daily audiences
    // stay under the sketch's k=4096 — true at the sf0.01 driver gate,
    // false from sf10 up, so the family had no oracle-green row at sweep
    // scales. This twin runs the same sketch pipeline (`thetaDayOverlap`
    // — a regression anywhere in the sketch algebra still hash-fails)
    // over a deterministically subsampled audience that stays under k BY
    // CONSTRUCTION at any decade: users pass when splitHash(user_id, m)
    // == 0 with m the smallest power of two making distinct-users/m
    // ≤ 2000 — half the headroom to k. Both engines derive m from the
    // same integers: n = count(distinct user_id), q = ceil(n/2000),
    // m = 2^ceil(log2 q). The engine computes the exponent with exact
    // integer bit-length; the oracle uses ceil(log2(q)) — safe because
    // the true log2 is an integer only at powers of two, where IEEE log2
    // is exact, and is otherwise ≥ ~1/(q·ln2) away from one (the
    // dedup_embedding band-width discipline). The count(distinct) is one
    // bounded driver scalar, the documented collect() exception class.
    "agg_theta_intersect_capped" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val nu = ev.agg(countDistinct(col("user_id"))).head().getLong(0)
      val q = (nu + 1999L) / 2000L
      val m = if (q <= 1L) 1L else java.lang.Long.highestOneBit(q - 1L) << 1
      thetaDayOverlap(ev.filter(Tables.splitHash(col("user_id"), m) === 0L))
    }),

    // Anomaly surfacing — the observability query the reference's own
    // Prometheus metrics feed (ref: internal/app metrics): each day's event
    // count scored against the trailing week's mean/stddev (current day
    // excluded — a spike must not mask itself). One aggregate exchange to
    // daily counts, then a bounded-frame window; days with fewer than 3
    // trailing observations score null instead of a fake zero. round(6)
    // absorbs cross-engine stddev-merge ulps.
    "event_anomaly" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
      Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("trail_mean", avg(col("n")).over(w))
        .withColumn("trail_sd", stddev_samp(col("n")).over(w))
        .withColumn("trail_k", count(col("n")).over(w))
        .select(col("event_type"), col("day"), col("n"),
          round(col("trail_mean"), 6).as("trail_mean"),
          when(col("trail_k") >= 3 && col("trail_sd") > 0,
            Tables.nz(round((col("n") - col("trail_mean")) / col("trail_sd"), 6)))
            .as("z_score"))
        .orderBy("event_type", "day")
    }))

  /** (day, sketch): one HLL sketch of `user_id` per event day, persisted
    * (OpCache); the one builder of both rolling-uniques keys' partials.
    */
  private def hllDayPartials(s: SparkSession, dir: String): DataFrame =
    OpCache.cached(dir, Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sketch")))

  /** (day, `name`): the estimated distinct users of the `w` days ending on
    * each day, one sketch union per window-end day over `hllDayPartials`.
    */
  private def hllTrailing(partials: DataFrame, w: Int, name: String): DataFrame =
    partials
      .select(col("sketch"),
        explode(sequence(col("day"), date_add(col("day"), w - 1))).as("day"))
      .groupBy("day")
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as(name))

  /** Day-over-day audience overlap from per-day theta sketches of
    * `user_id` (see the `agg_theta_intersect` key comment): one row per
    * day that has a next day, with the estimated audiences of both days,
    * of their intersection and of their union.
    */
  private def thetaDayOverlap(ev: DataFrame): DataFrame = {
    val sk = ev
        .select(col("user_id"), to_date(col("ts")).as("d"))
        .groupBy("d").agg(theta_sketch_agg(col("user_id"), 12).as("sk"))
      sk.as("s1").join(sk.as("s2"), date_add(col("s1.d"), 1) === col("s2.d"))
        .select(col("s1.d").as("d"),
          theta_sketch_estimate(col("s1.sk")).as("est_day"),
          theta_sketch_estimate(col("s2.sk")).as("est_next"),
          theta_sketch_estimate(theta_intersection(col("s1.sk"), col("s2.sk")))
            .as("est_both"),
          theta_sketch_estimate(theta_union(col("s1.sk"), col("s2.sk")))
            .as("est_either"))
        .orderBy("d")
  }

  /** PageRank over the repo-transition graph (see the `graph_pagerank` key
    * comment). With `redistributeDangling = true` the rank mass parked at
    * sink nodes is spread uniformly each iteration (the standard
    * stochastic-matrix completion), so total rank stays exactly 1.0 — the
    * scale-correct form; the extra cost is one anti-join aggregate (a
    * single double) per iteration, broadcast back. With `false` the mass
    * is dropped, which is what the DuckDB oracle unrolls.
    */
  def pageRank(s: SparkSession, dir: String,
      redistributeDangling: Boolean): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        pmod(col("event_id"), lit(97L)).as("repo"))
    val edges = ev.withColumn("src", lag(col("repo"), 1).over(w))
      .filter(col("src").isNotNull && col("src") =!= col("repo"))
      .select(col("src"), col("repo").as("dst"))
      .distinct().localCheckpoint(false)
    pageRankOnEdges(edges, redistributeDangling)
  }

  /** The iteration core over an arbitrary distinct (src, dst) edge set —
    * separated so the dangling-mass semantics can be pinned on a graph
    * that actually HAS sink nodes (the events transition graph at test
    * scale is dense enough that every repo has an out-edge).
    */
  def pageRankOnEdges(edges: DataFrame,
      redistributeDangling: Boolean): DataFrame = {
    val nodes = edges.select(col("src").as("repo"))
      .union(edges.select(col("dst"))).distinct().localCheckpoint(false)
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("d"))
    // r10 (guide §2.4/§3.1): outdeg is static across the 10 BSP rounds —
    // attach it to the edge set ONCE (checkpointed, so no round re-plans
    // the aggregate+join), and per round join only the |V|-row rank table,
    // broadcast (rank and contribution tables are node-sized metadata; the
    // edge set is never shuffled inside the loop). The per-edge term stays
    // the identical r/d division; round(6) at the edge absorbs
    // contribution-sum ordering ulps exactly as before.
    val edgesW = edges.join(outdeg, "src").localCheckpoint(false)
    val nRow = broadcast(nodes.agg(count(lit(1)).as("n")))
    var ranks = nodes.crossJoin(nRow)
      .select(col("repo"), (lit(1.0) / col("n")).as("r"))
    for (_ <- 1 to 10) {
      val contrib = edgesW
        .join(broadcast(ranks.select(col("repo").as("src"), col("r"))), "src")
        .groupBy(col("dst").as("repo"))
        .agg(sum(col("r") / col("d")).as("c"))
      val base =
        if (redistributeDangling) {
          // dangling mass = total rank at nodes with no out-edge: a single
          // double, computed distributed and broadcast back as a 1-row DF.
          val dm = broadcast(
            ranks.join(outdeg.select(col("src").as("repo")),
                Seq("repo"), "left_anti")
              .agg(coalesce(sum(col("r")), lit(0.0)).as("dm")))
          nodes.join(broadcast(contrib), Seq("repo"), "left").crossJoin(nRow)
            .crossJoin(dm)
            .select(col("repo"),
              (lit(0.15) / col("n") + lit(0.85) *
                (coalesce(col("c"), lit(0.0)) + col("dm") / col("n")))
                .as("r"))
        } else {
          nodes.join(broadcast(contrib), Seq("repo"), "left").crossJoin(nRow)
            .select(col("repo"),
              (lit(0.15) / col("n") + lit(0.85) * coalesce(col("c"), lit(0.0)))
                .as("r"))
        }
      // lazy checkpoint (r10): still truncates lineage and caches each
      // round's ranks, but materializes under the FINAL action instead of
      // blocking the driver once per round — 12 scheduling round-trips
      // collapse into one job DAG. Same algebra, same per-round cut.
      // ADVICE r10 #4 caveat (every lazy cut in this loop — edges, nodes,
      // edgesW, ranks): all 10 rounds materialize under ONE final action,
      // and locally-checkpointed blocks are not replayable — a single
      // executor lost late in the job loses earlier rounds' partitions and
      // recomputes from the source, where the eager form failed fast per
      // round. Right trade locally; use reliable checkpoint() per round on
      // a multi-node cluster.
      ranks = base.localCheckpoint(false)
    }
    ranks.select(col("repo"), round(col("r"), 6).as("rank")).orderBy("repo")
  }

  def oracle: Map[String, String] = Map(
    "event_sessionize" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |y AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM x),
        |z AS (
        |  SELECT user_id, ts,
        |         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_n
        |  FROM y)
        |SELECT user_id, sess_n, min(ts) AS session_start, max(ts) AS session_end,
        |       date_diff('second', min(ts), max(ts)) AS duration_s,
        |       count(*) AS n_events
        |FROM z GROUP BY user_id, sess_n
        |ORDER BY user_id, sess_n""".stripMargin,
    // same islands as event_sessionize; duration via date_diff('second')
    // ≡ Spark's truncate-then-subtract epoch seconds
    "event_session_stats" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |y AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM x),
        |z AS (
        |  SELECT user_id, ts,
        |         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                             ROWS UNBOUNDED PRECEDING) AS sess_n
        |  FROM y),
        |g AS (
        |  SELECT user_id, sess_n, count(*) AS n_events,
        |         date_diff('second', min(ts), max(ts)) AS duration_s
        |  FROM z GROUP BY 1, 2)
        |SELECT count(*) AS n_sessions,
        |       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_bounce,
        |       round(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*), 6) AS bounce_rate,
        |       round(CAST(sum(n_events) AS DOUBLE) / count(*), 6) AS avg_events,
        |       round(avg(duration_s), 6) AS avg_duration_s,
        |       round(quantile_cont(duration_s, 0.5), 6) AS p50_duration_s,
        |       round(quantile_cont(duration_s, 0.9), 6) AS p90_duration_s
        |FROM g""".stripMargin,
    // pmod-reduced trig arguments; dominance ranks the ROUNDED power
    "event_periodogram" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |d2 AS (
        |  SELECT event_type, n,
        |         CAST(date_diff('day', DATE '1970-01-01', day) AS BIGINT) AS di
        |  FROM daily),
        |st AS (
        |  SELECT event_type, CAST(count(*) AS DOUBLE) AS k,
        |         CAST(sum(n) AS DOUBLE) / count(*) AS m
        |  FROM d2 GROUP BY 1),
        |pp AS (SELECT unnest(range(2, 15)) AS p),
        |g AS (
        |  SELECT d.event_type, pp.p, CAST(max(st.k) AS BIGINT) AS n_days,
        |         sum((d.n - st.m) * cos(2 * pi() * (d.di % pp.p) / pp.p)) AS cs,
        |         sum((d.n - st.m) * sin(2 * pi() * (d.di % pp.p) / pp.p)) AS sn
        |  FROM d2 d JOIN st USING (event_type) CROSS JOIN pp
        |  GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, p, n_days,
        |         round((cs * cs + sn * sn) / n_days, 6) AS power
        |  FROM g)
        |SELECT event_type, p AS period, n_days, power,
        |       rank() OVER (PARTITION BY event_type
        |                    ORDER BY power DESC, p) = 1 AS dominant
        |FROM w ORDER BY event_type, period""".stripMargin,
    // the decompose CTEs + a rank-1 last-trend pick + 7-day projection;
    // forecast differences ROUNDED parts exactly like the Spark side
    "event_forecast_baseline" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |t2 AS (
        |  SELECT event_type, day, n,
        |         count(*) OVER w AS wn, sum(n) OVER w AS ws
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |tr AS (
        |  SELECT event_type, day, n, round(ws / 7, 6) AS trend,
        |         n - round(ws / 7, 6) AS dt,
        |         CAST(isodow(day) AS BIGINT) AS dow
        |  FROM t2 WHERE wn = 7),
        |lastt AS (
        |  SELECT event_type, day AS last_day, trend
        |  FROM tr
        |  QUALIFY row_number() OVER (PARTITION BY event_type
        |                             ORDER BY day DESC) = 1),
        |da AS (
        |  SELECT event_type, dow, sum(dt) AS sdt, count(*) AS cdt
        |  FROM tr GROUP BY 1, 2),
        |ce AS (
        |  SELECT event_type, sum(sdt / cdt) / count(*) AS ctr
        |  FROM da GROUP BY 1),
        |se AS (
        |  SELECT da.event_type, da.dow,
        |         round(sdt / cdt - ctr, 6) + 0 AS seasonal
        |  FROM da JOIN ce ON ce.event_type = da.event_type),
        |f AS (
        |  SELECT l.event_type, l.last_day + CAST(i AS INTEGER) AS day, l.trend
        |  FROM lastt l, unnest(generate_series(1, 7)) AS u(i))
        |SELECT f.event_type, f.day,
        |       round(f.trend + se.seasonal, 6) + 0 AS forecast
        |FROM f JOIN se ON se.event_type = f.event_type
        |               AND se.dow = CAST(isodow(f.day) AS BIGINT)
        |ORDER BY f.event_type, f.day""".stripMargin,
    "event_retention_matrix" ->
      """WITH acts AS (
        |  SELECT DISTINCT user_id,
        |         CAST(floor(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |                    / 7.0) AS BIGINT) AS w
        |  FROM events),
        |c AS (SELECT user_id, min(w) AS cohort_week FROM acts GROUP BY user_id)
        |SELECT cohort_week,
        |       count(DISTINCT CASE WHEN w - cohort_week = 0 THEN user_id END) AS w0,
        |       count(DISTINCT CASE WHEN w - cohort_week = 1 THEN user_id END) AS w1,
        |       count(DISTINCT CASE WHEN w - cohort_week = 2 THEN user_id END) AS w2,
        |       count(DISTINCT CASE WHEN w - cohort_week = 3 THEN user_id END) AS w3
        |FROM acts JOIN c USING (user_id)
        |GROUP BY cohort_week ORDER BY cohort_week""".stripMargin,
    // every value is an exact integer rational; half-up 6-dp rounding runs
    // in integer space — round6(p/q) = (2p·10⁶ + q) // (2q) — so no double
    // is ever rounded (see the builder comment: true 6-dp halves occur in
    // the data and the engines' double-round implementations disagree on
    // them)
    "event_interpolate" ->
      """WITH known AS (
        |  SELECT date_trunc('hour', ts) AS hr, event_type,
        |         CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS sc,
        |         count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |bounds AS (
        |  SELECT min(date_trunc('hour', ts)) AS h_min,
        |         max(date_trunc('hour', ts)) AS h_max FROM events),
        |hours AS (
        |  SELECT unnest(generate_series(h_min, h_max, INTERVAL 1 HOUR)) AS hr
        |  FROM bounds),
        |types AS (SELECT DISTINCT event_type FROM events),
        |g AS (
        |  SELECT hr, event_type, sc, c,
        |         last_value(sc IGNORE NULLS) OVER w AS psc,
        |         last_value(c IGNORE NULLS) OVER w AS pcn,
        |         last_value(CASE WHEN sc IS NOT NULL THEN hr END IGNORE NULLS)
        |           OVER w AS pt,
        |         first_value(sc IGNORE NULLS) OVER wf AS nsc,
        |         first_value(c IGNORE NULLS) OVER wf AS ncn,
        |         first_value(CASE WHEN sc IS NOT NULL THEN hr END IGNORE NULLS)
        |           OVER wf AS nt
        |  FROM hours CROSS JOIN types LEFT JOIN known USING (hr, event_type)
        |  WINDOW w AS (PARTITION BY event_type ORDER BY hr
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |         wf AS (PARTITION BY event_type ORDER BY hr
        |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        |h AS (
        |  SELECT hr, event_type, sc, c,
        |         CAST(psc AS HUGEINT) * ncn
        |             * (date_diff('hour', pt, nt) - date_diff('hour', pt, hr))
        |           + CAST(nsc AS HUGEINT) * pcn * date_diff('hour', pt, hr) AS num,
        |         CAST(pcn AS HUGEINT) * ncn * date_diff('hour', pt, nt) * 100 AS den
        |  FROM g)
        |SELECT hr, event_type,
        |       CAST((2 * sc * 10000 + c) // (2 * c) AS DOUBLE) / 1000000 AS v,
        |       CASE WHEN sc IS NOT NULL THEN
        |              CAST((2 * sc * 10000 + c) // (2 * c) AS DOUBLE) / 1000000
        |            WHEN num IS NOT NULL THEN
        |              CAST((2 * CAST(num AS HUGEINT) * 1000000 + den) // (2 * den)
        |                   AS DOUBLE) / 1000000
        |       END AS interp
        |FROM h ORDER BY hr, event_type""".stripMargin,
    "window_ema" -> {
      val num = (0 until 8).map(j =>
        s"CASE WHEN l$j IS NOT NULL THEN 0.3 * power(0.7, $j) * l$j ELSE 0.0 END")
        .mkString(" + ")
      val den = (0 until 8).map(j =>
        s"CASE WHEN l$j IS NOT NULL THEN 0.3 * power(0.7, $j) ELSE 0.0 END")
        .mkString(" + ")
      val lags = (0 until 8).map(j => s"lag(n, $j) OVER w AS l$j").mkString(", ")
      s"""WITH d AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
         |  FROM events GROUP BY 1, 2),
         |l AS (
         |  SELECT event_type, day, n, $lags
         |  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day))
         |SELECT event_type, day, n, round(($num) / ($den), 6) AS ema
         |FROM l ORDER BY event_type, day""".stripMargin
    },
    // the IDENTICAL 20 iterations per scenario unrolled as generated CTEs
    // (embed_pca_project / graph_pagerank oracle pattern); probabilities
    // divided once from summed counts exactly like the Spark driver;
    // channel set pinned to the fixture's four non-purchase types
    "event_markov_attribution" -> {
      // CHANNEL-SET PIN: the Spark side derives channels from the data; this
      // oracle hardcodes the fixture's non-absorbing event types. If the
      // testdata generator's event_type vocabulary changes, update here FIRST.
      val channels = Seq("click", "error", "signup", "view")
      def scen(name: String, removed: Option[String]): String = {
        val filt = removed.map(r => s"WHERE cur <> '$r'").getOrElse("")
        val redirect = removed
          .map(r => s"CASE WHEN next = '$r' THEN 'null' ELSE next END")
          .getOrElse("next")
        val head =
          s"""red_$name AS (
             |  SELECT cur, $redirect AS nx, sum(n) AS n
             |  FROM tr $filt GROUP BY 1, 2),
             |pr_$name AS MATERIALIZED (
             |  SELECT cur, nx,
             |         CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY cur) AS p
             |  FROM red_$name),
             |v_${name}_0 AS (SELECT 'start' AS st, 1.0 AS p)""".stripMargin
        // each v_k is referenced TWICE (absorption c_{k+1} and step v_{k+1});
        // without MATERIALIZED DuckDB inlines the reference tree → 2^20
        // expansion (measured: minutes instead of milliseconds)
        val steps = (1 to 20).map { k =>
          s"""c_${name}_$k AS (
             |  SELECT coalesce(sum(v.p * t.p), 0.0) AS a
             |  FROM v_${name}_${k - 1} v
             |  JOIN pr_$name t ON t.cur = v.st AND t.nx = 'conv'),
             |v_${name}_$k AS MATERIALIZED (
             |  SELECT t.nx AS st, sum(v.p * t.p) AS p
             |  FROM v_${name}_${k - 1} v JOIN pr_$name t ON t.cur = v.st
             |  WHERE t.nx NOT IN ('conv', 'null') GROUP BY t.nx)""".stripMargin
        }.mkString(",\n")
        val tot = s"a_$name AS (SELECT " +
          (1 to 20).map(k => s"(SELECT a FROM c_${name}_$k)").mkString(" + ") +
          " AS p)"
        Seq(head, steps, tot).mkString(",\n")
      }
      val scens = (("full", None) +: channels.map(c => (c, Some(c))))
        .map { case (n, r) => scen(n, r) }.mkString(",\n")
      val reRows = channels.map(c =>
        s"SELECT '$c' AS channel, 1.0 - (SELECT p FROM a_$c) / NULLIF((SELECT p FROM a_full), 0) AS r")
        .mkString("\n  UNION ALL\n  ")
      s"""WITH k AS (
         |  SELECT user_id, event_type, ts, event_id,
         |         coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |           OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pp
         |  FROM events),
         |seqq AS (
         |  SELECT user_id, event_type,
         |         row_number() OVER w AS rn, lead(event_type) OVER w AS nxt
         |  FROM k WHERE pp = 0
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |tr AS MATERIALIZED (
         |  SELECT cur, next, count(*) AS n FROM (
         |    SELECT event_type AS cur,
         |           coalesce(CASE WHEN nxt = 'purchase' THEN 'conv' ELSE nxt END,
         |                    'null') AS next
         |    FROM seqq WHERE event_type <> 'purchase'
         |    UNION ALL
         |    SELECT 'start',
         |           CASE WHEN event_type = 'purchase' THEN 'conv'
         |                ELSE event_type END
         |    FROM seqq WHERE rn = 1)
         |  GROUP BY 1, 2),
         |$scens,
         |re AS (
         |  $reRows
         |)
         |SELECT channel,
         |       round((SELECT p FROM a_full), 6) AS p_conv,
         |       round(r, 6) + 0 AS removal_effect,
         |       round(r / NULLIF(sum(r) OVER (), 0), 6) + 0 AS attribution
         |FROM re ORDER BY channel""".stripMargin
    },
    "agg_retention" ->
      """WITH u AS (
        |  SELECT user_id,
        |         max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS c1,
        |         max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c2,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS c3
        |  FROM events GROUP BY user_id)
        |SELECT CAST(sum(c1) AS BIGINT) AS n_signup,
        |       CAST(sum(c1 * c2) AS BIGINT) AS n_signup_click,
        |       CAST(sum(c1 * c3) AS BIGINT) AS n_signup_purchase,
        |       round(CAST(sum(c1 * c2) AS DOUBLE) / sum(c1), 6)
        |         AS click_retention,
        |       round(CAST(sum(c1 * c3) AS DOUBLE) / sum(c1), 6)
        |         AS purchase_retention
        |FROM u""".stripMargin,
    // identical first/last full-frame windows; NULLIF pins the
    // single-point-user (zero-span) rule on both engines
    "event_bounding_ratio" ->
      """WITH b AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t, value
        |  FROM events),
        |w AS (
        |  SELECT user_id,
        |         first_value(value) OVER win AS fv,
        |         last_value(value) OVER win AS lv,
        |         first_value(t) OVER win AS ft,
        |         last_value(t) OVER win AS lt
        |  FROM b
        |  WINDOW win AS (PARTITION BY user_id ORDER BY t, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING
        |                          AND UNBOUNDED FOLLOWING))
        |SELECT user_id, count(*) AS n_events,
        |       round(CAST(max(lt) - max(ft) AS DOUBLE) / 1e6, 6) AS span_s,
        |       round((max(lv) - max(fv))
        |             / NULLIF(CAST(max(lt) - max(ft) AS DOUBLE) / 1e6, 0.0),
        |             6) + 0 AS rate_per_s
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,
    // fixed j=0..7 left-to-right tap summation mirrors the Spark reduce;
    // exp() libm-vs-duckdb ulps « round(6)
    "window_time_decay" -> {
      val num = (0 until 8).map(j =>
        s"CASE WHEN v$j IS NOT NULL THEN v$j * exp((t$j - t) / 3.6e9) ELSE 0.0 END")
        .mkString(" + ")
      val den = (0 until 8).map(j =>
        s"CASE WHEN v$j IS NOT NULL THEN exp((t$j - t) / 3.6e9) ELSE 0.0 END")
        .mkString(" + ")
      val lags = (0 until 8).map(j =>
        s"lag(value, $j) OVER w AS v$j, lag(t, $j) OVER w AS t$j").mkString(", ")
      s"""WITH b AS (
         |  SELECT user_id, event_id, epoch_us(ts) AS t, value
         |  FROM events),
         |l AS (
         |  SELECT user_id, event_id, value, t, $lags
         |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
         |SELECT user_id, event_id, value,
         |       round(($num) / ($den), 6) AS decayed_avg
         |FROM l ORDER BY user_id, event_id""".stripMargin
    },
    "join_interval_bucketed" ->
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
        |ORDER BY e.event_id""".stripMargin,
    "event_conversion_time" ->
      """WITH a AS (SELECT user_id, min(ts) AS c_ts FROM events
        |           WHERE event_type = 'click' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS p_ts, min(a.c_ts) AS c_ts
        |  FROM events e JOIN a USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= a.c_ts
        |  GROUP BY e.user_id),
        |d AS (SELECT epoch_us(p_ts) - epoch_us(c_ts) AS delta_us FROM c)
        |SELECT count(*) AS n_converted,
        |       round(quantile_cont(delta_us, 0.5) / 1e6, 6) AS median_s,
        |       round(quantile_cont(delta_us, 0.9) / 1e6, 6) AS p90_s
        |FROM d""".stripMargin,
    "event_day_overlap" ->
      """WITH du AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |sizes AS (SELECT d, count(*) AS n FROM du GROUP BY d),
        |inter AS (
        |  SELECT a.d AS d, count(*) AS n_both
        |  FROM du a JOIN du b ON a.user_id = b.user_id AND a.d + 1 = b.d
        |  GROUP BY a.d)
        |SELECT s1.d AS d, s1.n AS n_day, s2.n AS n_next,
        |       COALESCE(i.n_both, 0) AS n_both,
        |       round(CAST(COALESCE(i.n_both, 0) AS DOUBLE) /
        |             (s1.n + s2.n - COALESCE(i.n_both, 0)), 6) AS jaccard
        |FROM sizes s1 JOIN sizes s2 ON s1.d + 1 = s2.d
        |LEFT JOIN inter i ON s1.d = i.d
        |ORDER BY d""".stripMargin,
    // exact twin of the sketch estimates — valid while day audiences ≤ k
    "agg_bitmap_overlap" ->
      """WITH d AS (
        |  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day FROM events
        |  WHERE event_type IN ('purchase', 'click'))
        |SELECT
        |  (SELECT count(*) FROM d WHERE event_type = 'purchase')
        |    AS days_purchase,
        |  (SELECT count(*) FROM d WHERE event_type = 'click') AS days_click,
        |  (SELECT count(DISTINCT day) FROM d) AS days_union,
        |  (SELECT count(*) FROM d WHERE event_type = 'purchase')
        |    + (SELECT count(*) FROM d WHERE event_type = 'click')
        |    - (SELECT count(DISTINCT day) FROM d) AS days_intersect""".stripMargin,
    // (see the agg_theta_intersect key comment)
    "agg_theta_intersect" ->
      """WITH du AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |sizes AS (SELECT d, count(*) AS n FROM du GROUP BY d),
        |inter AS (
        |  SELECT a.d AS d, count(*) AS n_both
        |  FROM du a JOIN du b ON a.user_id = b.user_id AND a.d + 1 = b.d
        |  GROUP BY a.d)
        |SELECT s1.d AS d, s1.n AS est_day, s2.n AS est_next,
        |       COALESCE(i.n_both, 0) AS est_both,
        |       s1.n + s2.n - COALESCE(i.n_both, 0) AS est_either
        |FROM sizes s1 JOIN sizes s2 ON s1.d + 1 = s2.d
        |LEFT JOIN inter i ON s1.d = i.d
        |ORDER BY d""".stripMargin,
    // exact-regime twin: identical semantics over the splitHash-subsampled
    // audience; m derives from the same integers in both engines (see the
    // key comment — IEEE log2 is exact at the only boundary that matters)
    "agg_theta_intersect_capped" ->
      """WITH m AS (
        |  SELECT CASE WHEN q <= 1 THEN 1
        |              ELSE CAST(power(2, ceil(log2(q))) AS BIGINT) END AS m
        |  FROM (SELECT (count(DISTINCT user_id) + 1999) // 2000 AS q
        |        FROM events)),
        |du AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
        |  FROM events, m
        |  WHERE ((user_id % 2147483648) * 2654435761) % m.m = 0),
        |sizes AS (SELECT d, count(*) AS n FROM du GROUP BY d),
        |inter AS (
        |  SELECT a.d AS d, count(*) AS n_both
        |  FROM du a JOIN du b ON a.user_id = b.user_id AND a.d + 1 = b.d
        |  GROUP BY a.d)
        |SELECT s1.d AS d, s1.n AS est_day, s2.n AS est_next,
        |       COALESCE(i.n_both, 0) AS est_both,
        |       s1.n + s2.n - COALESCE(i.n_both, 0) AS est_either
        |FROM sizes s1 JOIN sizes s2 ON s1.d + 1 = s2.d
        |LEFT JOIN inter i ON s1.d = i.d
        |ORDER BY d""".stripMargin,
    "event_funnel_any_order" ->
      """WITH f AS (
        |  SELECT user_id,
        |         min(CASE WHEN event_type = 'signup' THEN ts END) AS t_s,
        |         min(CASE WHEN event_type = 'click' THEN ts END) AS t_c,
        |         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_p
        |  FROM events WHERE event_type IN ('signup', 'click', 'purchase')
        |  GROUP BY user_id),
        |a AS (SELECT *, least(t_s, t_c, t_p) AS anchor FROM f)
        |SELECT CAST(
        |         CASE WHEN t_s IS NOT NULL AND t_s <= anchor + INTERVAL 7 DAY
        |              THEN 1 ELSE 0 END
        |       + CASE WHEN t_c IS NOT NULL AND t_c <= anchor + INTERVAL 7 DAY
        |              THEN 1 ELSE 0 END
        |       + CASE WHEN t_p IS NOT NULL AND t_p <= anchor + INTERVAL 7 DAY
        |              THEN 1 ELSE 0 END AS BIGINT) AS n_steps,
        |       count(*) AS n_users
        |FROM a GROUP BY 1 ORDER BY n_steps""".stripMargin,
    "scd2_history" ->
      """WITH x AS (
        |  SELECT user_id, ts, event_id, event_type AS state,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS prev_state
        |  FROM events),
        |y AS (
        |  SELECT user_id, ts, event_id, state,
        |         CASE WHEN prev_state IS NULL OR prev_state <> state
        |              THEN 1 ELSE 0 END AS chg
        |  FROM x),
        |z AS (
        |  SELECT user_id, ts, state,
        |         CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
        |  FROM y),
        |v AS (
        |  SELECT user_id, version, min(state) AS state,
        |         min(ts) AS valid_from, count(*) AS n_events
        |  FROM z GROUP BY user_id, version)
        |SELECT user_id, version, state, valid_from,
        |       lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to,
        |       lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) IS NULL
        |         AS is_current,
        |       n_events
        |FROM v ORDER BY user_id, version""".stripMargin,
    "event_attribution" ->
      """WITH p AS (SELECT user_id, min(ts) AS pt FROM events
        |           WHERE event_type = 'purchase' GROUP BY user_id),
        |pre AS (
        |  SELECT e.user_id, e.event_type,
        |         row_number() OVER (PARTITION BY e.user_id
        |                            ORDER BY e.ts ASC, e.event_id ASC) AS rn_f,
        |         row_number() OVER (PARTITION BY e.user_id
        |                            ORDER BY e.ts DESC, e.event_id DESC) AS rn_l
        |  FROM events e JOIN p USING (user_id)
        |  WHERE e.ts < p.pt)
        |SELECT f.event_type AS first_touch, l.event_type AS last_touch,
        |       count(*) AS n_users
        |FROM (SELECT user_id, event_type FROM pre WHERE rn_f = 1) f
        |JOIN (SELECT user_id, event_type FROM pre WHERE rn_l = 1) l USING (user_id)
        |GROUP BY first_touch, last_touch
        |ORDER BY first_touch, last_touch""".stripMargin,
    "event_anomaly" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, day, n,
        |       round(trail_mean, 6) AS trail_mean,
        |       CASE WHEN trail_k >= 3 AND trail_sd > 0
        |            THEN round((n - trail_mean) / trail_sd, 6) + 0 END AS z_score
        |FROM (
        |  SELECT event_type, day, n,
        |         avg(n) OVER w AS trail_mean,
        |         stddev_samp(n) OVER w AS trail_sd,
        |         count(n) OVER w AS trail_k
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |ORDER BY event_type, day""".stripMargin,
    "event_funnel" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |       WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2
        |       FROM events e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click'
        |         AND e.ts > s1.t1 AND e.ts <= s1.t1 + INTERVAL 7 DAY
        |       GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3
        |       FROM events e JOIN s1 USING (user_id) JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase'
        |         AND e.ts > s2.t2 AND e.ts <= s1.t1 + INTERVAL 7 DAY
        |       GROUP BY 1)
        |SELECT CAST(CASE WHEN t3 IS NOT NULL THEN 3
        |                 WHEN t2 IS NOT NULL THEN 2
        |                 WHEN t1 IS NOT NULL THEN 1
        |                 ELSE 0 END AS BIGINT) AS funnel_level,
        |       count(*) AS n_users
        |FROM u LEFT JOIN s1 USING (user_id)
        |       LEFT JOIN s2 USING (user_id)
        |       LEFT JOIN s3 USING (user_id)
        |GROUP BY 1 ORDER BY funnel_level""".stripMargin,
    "event_retention" ->
      """WITH d AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
        |flags AS (
        |  SELECT user_id,
        |         max(CASE WHEN event_type = 'signup'
        |                   AND floor(datediff('day', d0, CAST(ts AS DATE)) / 7) = 0
        |                  THEN 1 ELSE 0 END) AS cohort,
        |         max(CASE WHEN floor(datediff('day', d0, CAST(ts AS DATE)) / 7) = 1
        |                  THEN 1 ELSE 0 END) AS w1,
        |         max(CASE WHEN floor(datediff('day', d0, CAST(ts AS DATE)) / 7) = 2
        |                  THEN 1 ELSE 0 END) AS w2,
        |         max(CASE WHEN floor(datediff('day', d0, CAST(ts AS DATE)) / 7) = 3
        |                  THEN 1 ELSE 0 END) AS w3
        |  FROM events CROSS JOIN d GROUP BY user_id)
        |SELECT count(*) AS cohort_users,
        |       CAST(sum(w1) AS BIGINT) AS retained_w1,
        |       CAST(sum(w2) AS BIGINT) AS retained_w2,
        |       CAST(sum(w3) AS BIGINT) AS retained_w3
        |FROM flags WHERE cohort = 1""".stripMargin,
    "graph_pagerank" -> {
      val iters = (1 to 10).map { k =>
        s"""r$k AS (
           |  SELECT n.repo,
           |         CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
           |           + CAST(0.85 AS DOUBLE) * COALESCE(s.c, 0) AS r
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS repo, sum(p.r / o.d) AS c
           |    FROM edges e
           |    JOIN r${k - 1} p ON e.src = p.repo
           |    JOIN outdeg o ON e.src = o.src
           |    GROUP BY e.dst) s USING (repo))""".stripMargin
      }.mkString(",\n")
      s"""WITH ev AS (
         |  SELECT user_id, ts, event_id, event_id % 97 AS repo FROM events),
         |tr AS (
         |  SELECT user_id, repo,
         |         lag(repo) OVER (PARTITION BY user_id
         |                         ORDER BY ts, event_id) AS src
         |  FROM ev),
         |edges AS MATERIALIZED (SELECT DISTINCT src, repo AS dst FROM tr
         |          WHERE src IS NOT NULL AND src <> repo),
         |nodes AS (SELECT DISTINCT repo FROM
         |          (SELECT src AS repo FROM edges UNION SELECT dst FROM edges)),
         |outdeg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |r0 AS (SELECT repo, CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS r
         |       FROM nodes),
         |$iters
         |SELECT repo, round(r, 6) AS rank FROM r10 ORDER BY repo""".stripMargin
    },
    "event_sequence_count" ->
      """WITH x AS (
        |  SELECT user_id,
        |         string_agg(substring(event_type, 1, 1), ''
        |                    ORDER BY ts, event_id) AS j
        |  FROM events GROUP BY user_id)
        |SELECT user_id,
        |       CAST(len(regexp_extract_all(j, 'c[^p]*p')) AS BIGINT)
        |         AS n_convert_cycles,
        |       CAST(len(regexp_extract_all(j, 'ee+')) AS BIGINT)
        |         AS n_error_bursts
        |FROM x ORDER BY user_id""".stripMargin,
    "event_sequence_match" ->
      """SELECT user_id,
        |       CAST(len(j) AS BIGINT) AS n_events,
        |       regexp_matches(j, 's.*c.*p') AS funnel_matched,
        |       regexp_matches(j, 'e{2}') AS double_error
        |FROM (SELECT user_id,
        |             string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id) AS j
        |      FROM events GROUP BY user_id)
        |ORDER BY user_id""".stripMargin,
    "event_downsample_lttb" ->
      """WITH rows_ AS (
        |  SELECT user_id, ts, value,
        |         CAST(round(value * 100, 0) AS BIGINT) AS y,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) AS rn,
        |         count(*) OVER (PARTITION BY user_id) AS n
        |  FROM events),
        |br AS (
        |  SELECT *, least(floor((rn - 1) * 12 / n), 11) AS b FROM rows_),
        |bk AS (
        |  SELECT user_id, b,
        |         CAST(sum(rn) AS DOUBLE) / count(*) AS ax,
        |         CAST(sum(y) AS DOUBLE) / count(*) AS ay
        |  FROM br GROUP BY user_id, b),
        |bk2 AS (
        |  SELECT user_id, b,
        |         coalesce(lag(ax) OVER w, ax) AS pax,
        |         coalesce(lag(ay) OVER w, ay) AS pay,
        |         coalesce(lead(ax) OVER w, ax) AS nax,
        |         coalesce(lead(ay) OVER w, ay) AS nay
        |  FROM bk WINDOW w AS (PARTITION BY user_id ORDER BY b)),
        |sc AS (
        |  SELECT br.user_id, br.b, br.ts, br.value, br.rn,
        |         round(abs((pax - nax) * (br.y - pay)
        |                   - (pax - br.rn) * (nay - pay)), 6) AS area
        |  FROM br JOIN bk2 ON br.user_id = bk2.user_id AND br.b = bk2.b),
        |pk AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, b
        |                               ORDER BY area DESC, rn) AS pick
        |  FROM sc)
        |SELECT user_id, CAST(b AS BIGINT) AS bucket, ts, value
        |FROM pk WHERE pick = 1 ORDER BY user_id, bucket""".stripMargin,
    // start sorts before end at equal t (d DESC) — closed-interval
    // semantics pinned identically to the Spark side
    "event_max_concurrent" ->
      """WITH iv AS (
        |  SELECT user_id, ts, ts + to_seconds(CAST(floor(value) AS INT)) AS te
        |  FROM events),
        |pts AS (
        |  SELECT user_id, ts AS t, 1 AS d FROM iv
        |  UNION ALL
        |  SELECT user_id, te AS t, -1 AS d FROM iv),
        |r AS (
        |  SELECT user_id,
        |         sum(d) OVER (PARTITION BY user_id ORDER BY t, d DESC
        |                      ROWS UNBOUNDED PRECEDING) AS open
        |  FROM pts)
        |SELECT user_id, CAST(max(open) AS BIGINT) AS max_concurrent
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin,
    "event_funnel_strict" ->
      """WITH j AS (
        |  SELECT user_id,
        |         string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id) AS j
        |  FROM events GROUP BY user_id),
        |lvl AS (
        |  SELECT CAST(CASE WHEN position('scp' IN j) > 0 THEN 3
        |                   WHEN position('sc' IN j) > 0 THEN 2
        |                   WHEN position('s' IN j) > 0 THEN 1
        |                   ELSE 0 END AS BIGINT) AS funnel_level
        |  FROM j)
        |SELECT funnel_level, count(*) AS n_users
        |FROM lvl GROUP BY funnel_level ORDER BY funnel_level""".stripMargin,
    "event_sequence_next_node" ->
      """SELECT next_node, count(*) AS n FROM (
        |  SELECT event_type AS next_node,
        |         lag(event_type, 2) OVER (PARTITION BY user_id
        |                                  ORDER BY ts, event_id) AS p2,
        |         lag(event_type, 1) OVER (PARTITION BY user_id
        |                                  ORDER BY ts, event_id) AS p1
        |  FROM events)
        |WHERE p2 = 'click' AND p1 = 'purchase'
        |GROUP BY next_node ORDER BY next_node""".stripMargin,
    "event_sequence_match_time" ->
      """WITH s1 AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         max(CASE WHEN event_type = 'signup' THEN ts END) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_s
        |  FROM events),
        |s2 AS (
        |  SELECT *,
        |         event_type = 'click' AND last_s IS NOT NULL
        |           AND ts <= last_s + INTERVAL 6 HOUR AS good_c,
        |         event_type = 'click' AND last_s IS NOT NULL AS any_c
        |  FROM s1),
        |s3 AS (
        |  SELECT *,
        |         max(CASE WHEN good_c THEN ts END) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_gc,
        |         max(CASE WHEN any_c THEN ts END) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_ac
        |  FROM s2)
        |SELECT user_id, count(*) AS n_events,
        |       COALESCE(max(event_type = 'purchase' AND last_gc IS NOT NULL
        |                    AND ts <= last_gc + INTERVAL 24 HOUR), false) AS matched_time,
        |       COALESCE(max(event_type = 'purchase' AND last_ac IS NOT NULL),
        |                false) AS matched_any
        |FROM s3 GROUP BY user_id ORDER BY user_id""".stripMargin,
    "event_paths" ->
      """SELECT prev, event_type AS next, count(*) AS n
        |FROM (
        |  SELECT user_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS prev
        |  FROM events)
        |WHERE prev IS NOT NULL
        |GROUP BY prev, next ORDER BY prev, next""".stripMargin,
    "event_markov_transition" ->
      """WITH t AS (
        |  SELECT prev AS cur, event_type AS next, count(*) AS n
        |  FROM (
        |    SELECT event_type,
        |           lag(event_type) OVER (PARTITION BY user_id
        |                                 ORDER BY ts, event_id) AS prev
        |    FROM events)
        |  WHERE prev IS NOT NULL
        |  GROUP BY cur, next)
        |SELECT cur, next, n,
        |       round(CAST(n AS DOUBLE) /
        |             CAST(sum(n) OVER (PARTITION BY cur) AS DOUBLE), 6) AS p
        |FROM t ORDER BY cur, next""".stripMargin,
    "event_rfm" ->
      """WITH mx AS (SELECT max(CAST(ts AS DATE)) AS d FROM events),
        |u AS (
        |  SELECT user_id,
        |         CAST(datediff('day', max(CAST(ts AS DATE)), (SELECT d FROM mx))
        |              AS BIGINT) AS recency_days,
        |         count(*) AS frequency,
        |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id)
        |SELECT user_id, recency_days, frequency, monetary,
        |       CAST(ntile(5) OVER (ORDER BY recency_days, user_id) AS BIGINT)
        |         AS r_score,
        |       CAST(ntile(5) OVER (ORDER BY frequency DESC, user_id) AS BIGINT)
        |         AS f_score,
        |       CAST(ntile(5) OVER (ORDER BY monetary DESC, user_id) AS BIGINT)
        |         AS m_score
        |FROM u ORDER BY user_id""".stripMargin,
    "window_drawdown" ->
      """WITH p AS (
        |  SELECT user_id, value,
        |         max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS peak
        |  FROM events)
        |SELECT user_id, count(*) AS n_events,
        |       max(peak - value) AS max_drawdown
        |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin,
    "graph_triangles" ->
      """WITH tr AS (
        |  SELECT lag(event_id % 97) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS src,
        |         event_id % 97 AS dst
        |  FROM events),
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM tr WHERE src IS NOT NULL AND src <> dst),
        |deg AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und)
        |  GROUP BY node),
        |rk AS (
        |  SELECT node, CAST(row_number() OVER (ORDER BY deg, node) AS BIGINT)
        |           AS rk
        |  FROM deg),
        |oe AS (
        |  SELECT least(ra.rk, rb.rk) AS u, greatest(ra.rk, rb.rk) AS v
        |  FROM und
        |  JOIN rk ra ON und.a = ra.node
        |  JOIN rk rb ON und.b = rb.node),
        |t AS (
        |  SELECT e1.u AS x, e1.v AS y, e2.v AS z
        |  FROM oe e1 JOIN oe e2 ON e1.u = e2.u AND e1.v < e2.v
        |  WHERE EXISTS (SELECT 1 FROM oe e3 WHERE e3.u = e1.v AND e3.v = e2.v)),
        |pn AS (
        |  SELECT unnest([x, y, z]) AS r FROM t)
        |SELECT rk.node AS node, CAST(count(*) AS BIGINT) AS n_triangles
        |FROM pn JOIN rk ON pn.r = rk.rk
        |GROUP BY rk.node ORDER BY node""".stripMargin,
    "event_streaks" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |i AS (
        |  SELECT user_id,
        |         datediff('day', DATE '1970-01-01', day)
        |           - row_number() OVER (PARTITION BY user_id ORDER BY day)
        |           AS anchor
        |  FROM ud),
        |st AS (SELECT user_id, anchor, count(*) AS len FROM i GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_streaks, max(len) AS max_streak
        |FROM st GROUP BY user_id ORDER BY user_id""".stripMargin,
    "event_cohort_ltv" ->
      """WITH uw AS (
        |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk,
        |         event_type, CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort FROM uw GROUP BY user_id),
        |sz AS (SELECT cohort, count(*) AS n_users FROM c GROUP BY cohort),
        |rev AS (
        |  SELECT c.cohort, uw.wk, sum(uw.v) AS rev
        |  FROM uw JOIN c USING (user_id)
        |  WHERE uw.event_type = 'purchase'
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT cohort, wk,
        |         CAST(datediff('day', cohort, wk) / 7 AS BIGINT) AS age_weeks,
        |         sum(rev) OVER (PARTITION BY cohort ORDER BY wk
        |           ROWS UNBOUNDED PRECEDING) AS cum_rev
        |  FROM rev)
        |SELECT r.cohort, r.age_weeks, sz.n_users,
        |       round(CAST(cum_rev AS DOUBLE) / n_users, 6) AS cum_rev_per_user
        |FROM r JOIN sz USING (cohort)
        |ORDER BY cohort, age_weeks""".stripMargin,
    "event_anomaly_seasonal" ->
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
        |  FROM prof WHERE sqrt((q - s * s / k) / (k - 1)) > 0)
        |SELECT d2.event_type, d2.day, CAST(d2.n AS BIGINT) AS n,
        |       round(mu, 6) AS expected,
        |       round((d2.n - mu) / sd, 6) + 0 AS z,
        |       abs(round((d2.n - mu) / sd, 6)) > 2.0 AS is_anomaly
        |FROM d2 JOIN p2 USING (event_type, dow)
        |ORDER BY event_type, day""".stripMargin,
    // r9: frame moments in exact integer cents (halfcell class — see the
    // engine comment): n·Σc² − (Σc)² is exact and >= 0, so a constant
    // window yields σ = 0 on both engines instead of sqrt(-ulp).
    "window_bollinger" ->
      """WITH b AS (
        |  SELECT user_id, event_id, value,
        |         row_number() OVER w AS rn,
        |         sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |           OVER w20 AS s,
        |         sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |             * CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |           OVER w20 AS q
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
        |         w20 AS (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
        |m AS (
        |  SELECT user_id, event_id, value, CAST(s AS DOUBLE) / 2000 AS mean,
        |         sqrt(CAST(20 * q - s * s AS DOUBLE) / 3800000) AS sd
        |  FROM b WHERE rn >= 20),
        |r AS (
        |  SELECT user_id, event_id, value,
        |         round(mean, 6) AS mid,
        |         round(mean + 2e0 * sd, 6) AS upper,
        |         round(mean - 2e0 * sd, 6) + 0 AS lower
        |  FROM m)
        |SELECT user_id, event_id, value, mid, upper, lower,
        |       value > upper AS breakout_up,
        |       value < lower AS breakout_down
        |FROM r ORDER BY user_id, event_id""".stripMargin,
    "event_inter_arrival" ->
      """WITH g AS (
        |  SELECT event_type,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |           PARTITION BY user_id, event_type
        |           ORDER BY epoch_us(ts), event_id) AS gap_us
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |       round(avg(gap_us) / 1e6, 6) AS mean_s,
        |       round(quantile_cont(gap_us, 0.5) / 1e6, 6) AS p50_s,
        |       round(quantile_cont(gap_us, 0.9) / 1e6, 6) AS p90_s,
        |       round(quantile_cont(gap_us, 0.99) / 1e6, 6) AS p99_s
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "event_growth_accounting" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
        |  FROM events),
        |mx AS (SELECT max(wk) AS m FROM uw),
        |st AS (
        |  SELECT user_id, wk,
        |         lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev,
        |         lead(wk) OVER (PARTITION BY user_id ORDER BY wk) AS nxt
        |  FROM uw),
        |act AS (
        |  SELECT wk,
        |         CASE WHEN prev IS NULL THEN 'new'
        |              WHEN datediff('day', prev, wk) = 7 THEN 'retained'
        |              ELSE 'resurrected' END AS status
        |  FROM st),
        |ch AS (
        |  SELECT wk + 7 AS wk, 'churned' AS status
        |  FROM st
        |  WHERE (nxt IS NULL OR datediff('day', wk, nxt) > 7)
        |    AND wk + 7 <= (SELECT m FROM mx)),
        |u AS (SELECT * FROM act UNION ALL SELECT * FROM ch)
        |SELECT wk,
        |       count(*) FILTER (status = 'new') AS n_new,
        |       count(*) FILTER (status = 'retained') AS n_retained,
        |       count(*) FILTER (status = 'resurrected') AS n_resurrected,
        |       count(*) FILTER (status = 'churned') AS n_churned
        |FROM u GROUP BY wk ORDER BY wk""".stripMargin,
    "event_power_user_curve" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |pu AS (
        |  SELECT user_id, count(*) AS active_days FROM ud GROUP BY user_id)
        |SELECT active_days, count(*) AS n_users
        |FROM pu GROUP BY active_days ORDER BY active_days""".stripMargin,
    "event_lorenz" ->
      """WITH c AS (
        |  SELECT event_type, user_id, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |d AS (
        |  SELECT event_type,
        |         ntile(10) OVER (PARTITION BY event_type
        |                         ORDER BY n, user_id) AS decile,
        |         n
        |  FROM c),
        |g AS (
        |  SELECT event_type, decile, count(*) AS n_users,
        |         sum(n) AS n_events
        |  FROM d GROUP BY 1, 2),
        |t AS (SELECT event_type, sum(n_events) AS total FROM g GROUP BY 1)
        |SELECT g.event_type, g.decile, g.n_users,
        |       CAST(g.n_events AS BIGINT) AS n_events,
        |       round(CAST(g.n_events AS DOUBLE) / total, 6) AS events_share,
        |       round(CAST(sum(g.n_events) OVER (PARTITION BY g.event_type
        |                    ORDER BY g.decile) AS DOUBLE) / total, 6)
        |         AS cum_share
        |FROM g JOIN t USING (event_type)
        |ORDER BY event_type, decile""".stripMargin,
    "event_rolling_uniques" ->
      """WITH ud AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
        |w7 AS (
        |  SELECT d.day, count(DISTINCT u.user_id) AS wau7
        |  FROM dau d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
        |  GROUP BY 1),
        |w28 AS (
        |  SELECT d.day, count(DISTINCT u.user_id) AS mau28
        |  FROM dau d JOIN ud u ON u.day BETWEEN d.day - 27 AND d.day
        |  GROUP BY 1)
        |SELECT day, dau, wau7, mau28
        |FROM dau JOIN w7 USING (day) JOIN w28 USING (day)
        |ORDER BY day""".stripMargin,
    // bound twin: the exact ladder is recomputed cross-engine; the sketch
    // arm's verdicts are the documented 5% band (see the key comment)
    "event_rolling_uniques_bound" ->
      """WITH ud AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
        |w7 AS (
        |  SELECT d.day, count(DISTINCT u.user_id) AS wau7
        |  FROM dau d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
        |  GROUP BY 1),
        |w28 AS (
        |  SELECT d.day, count(DISTINCT u.user_id) AS mau28
        |  FROM dau d JOIN ud u ON u.day BETWEEN d.day - 27 AND d.day
        |  GROUP BY 1)
        |SELECT day, dau, wau7, mau28,
        |       true AS wau7_within, true AS mau28_within
        |FROM dau JOIN w7 USING (day) JOIN w28 USING (day)
        |ORDER BY day""".stripMargin,
    "event_autocorrelation" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |d1 AS (
        |  SELECT event_type, datediff('day', DATE '1970-01-01', day) AS di, n
        |  FROM daily),
        |st AS (
        |  SELECT event_type, CAST(count(*) AS DOUBLE) AS k,
        |         CAST(sum(n) AS DOUBLE) AS s, CAST(sum(n * n) AS DOUBLE) AS q
        |  FROM d1 GROUP BY 1),
        |st2 AS (SELECT event_type, s / k AS m, q - s * s / k AS den
        |        FROM st WHERE q - s * s / k > 0),
        |pairs AS (
        |  SELECT a.event_type, l.lag,
        |         CAST(count(*) AS DOUBLE) AS c,
        |         CAST(sum(a.n * b.n) AS DOUBLE) AS s12,
        |         CAST(sum(a.n) AS DOUBLE) AS s1,
        |         CAST(sum(b.n) AS DOUBLE) AS s2
        |  FROM d1 a CROSS JOIN (SELECT unnest(range(1, 8)) AS lag) l
        |  JOIN d1 b ON b.event_type = a.event_type AND b.di = a.di + l.lag
        |  GROUP BY 1, 2)
        |SELECT p.event_type, p.lag, CAST(p.c AS BIGINT) AS n_pairs,
        |       round((s12 - m * s1 - m * s2 + c * m * m) / den, 6) + 0 AS acf
        |FROM pairs p JOIN st2 USING (event_type)
        |ORDER BY event_type, lag""".stripMargin,
    "event_seasonal_decompose" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT *, count(*) OVER w7 AS wn, sum(n) OVER w7 AS ws
        |  FROM daily
        |  WINDOW w7 AS (PARTITION BY event_type ORDER BY day
        |                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |t2 AS (
        |  SELECT event_type, day, n, round(ws / 7, 6) AS trend,
        |         n - round(ws / 7, 6) AS dt,
        |         CAST(isodow(day) AS BIGINT) AS dow
        |  FROM t WHERE wn = 7),
        |da AS (SELECT event_type, dow, sum(dt) AS sdt, count(*) AS cdt
        |       FROM t2 GROUP BY 1, 2),
        |ctr AS (SELECT event_type, sum(sdt / cdt) / count(*) AS ctr
        |        FROM da GROUP BY 1),
        |se AS (SELECT da.event_type, da.dow,
        |              round(sdt / cdt - ctr, 6) + 0 AS seasonal
        |       FROM da JOIN ctr USING (event_type))
        |SELECT t2.event_type, t2.day, t2.n, t2.trend, se.seasonal,
        |       round(t2.n - t2.trend - se.seasonal, 6) + 0 AS residual
        |FROM t2 JOIN se USING (event_type, dow)
        |ORDER BY event_type, day""".stripMargin,
    "event_seasonal_index" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |dw AS (
        |  SELECT event_type, CAST(isodow(day) AS BIGINT) AS dow,
        |         count(*) AS n_days,
        |         CAST(sum(n) AS DOUBLE) / count(*) AS avg_daily
        |  FROM daily GROUP BY 1, 2)
        |SELECT event_type, dow, n_days,
        |       round(avg_daily, 6) AS avg_daily,
        |       round(avg_daily
        |             / (sum(avg_daily) OVER (PARTITION BY event_type)
        |                / count(*) OVER (PARTITION BY event_type)), 6)
        |         AS seasonal_idx
        |FROM dw ORDER BY event_type, dow""".stripMargin,
    "event_kaplan_meier" ->
      """WITH mx AS (SELECT max(CAST(ts AS DATE)) AS d FROM events),
        |u AS (
        |  SELECT user_id,
        |         CAST(datediff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE)))
        |              AS BIGINT) AS lifetime_days,
        |         datediff('day', max(CAST(ts AS DATE)), (SELECT d FROM mx)) >= 7
        |           AS observed
        |  FROM events GROUP BY user_id),
        |l AS (
        |  SELECT lifetime_days,
        |         count(*) FILTER (observed) AS n_deaths,
        |         count(*) FILTER (NOT observed) AS n_censored
        |  FROM u GROUP BY lifetime_days),
        |r AS (
        |  SELECT *, CAST(sum(n_deaths + n_censored) OVER (ORDER BY lifetime_days
        |              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |            AS BIGINT) AS n_at_risk
        |  FROM l),
        |c AS (
        |  SELECT *,
        |         CASE WHEN n_deaths > 0 AND n_deaths < n_at_risk
        |              THEN ln(1.0 - CAST(n_deaths AS DOUBLE) / n_at_risk) END
        |           AS lterm,
        |         max(CASE WHEN n_deaths >= n_at_risk THEN 1 ELSE 0 END)
        |           OVER (ORDER BY lifetime_days ROWS UNBOUNDED PRECEDING)
        |           AS dead_end
        |  FROM r)
        |SELECT lifetime_days, n_at_risk, n_deaths, n_censored,
        |       CASE WHEN dead_end = 1 THEN 0.0
        |            ELSE round(coalesce(exp(sum(lterm) OVER (
        |                   ORDER BY lifetime_days ROWS UNBOUNDED PRECEDING)),
        |                 1.0), 6) END AS survival
        |FROM c ORDER BY lifetime_days""".stripMargin,
    "event_interval_union" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts,
        |         ts + to_seconds(CAST(floor(value) AS INT)) AS te
        |  FROM events),
        |m AS (
        |  SELECT *, max(te) OVER (PARTITION BY user_id ORDER BY ts, te, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM e),
        |i AS (
        |  SELECT *, sum(CASE WHEN pmax IS NULL OR ts > pmax THEN 1 ELSE 0 END)
        |              OVER (PARTITION BY user_id ORDER BY ts, te, event_id
        |                ROWS UNBOUNDED PRECEDING) AS isl
        |  FROM m),
        |g AS (
        |  SELECT user_id, isl, min(ts) AS is_s, max(te) AS is_e
        |  FROM i GROUP BY user_id, isl)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
        |       CAST(sum(epoch_us(is_e) - epoch_us(is_s)) AS BIGINT) AS covered_us
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    // r9: whole-partition moments in exact integer cents (halfcell class —
    // see the engine comment): the variance numerator n·Σc² − (Σc)² is an
    // exact HUGEINT >= 0, never sqrt(-ulp) on a constant series.
    "event_cusum" ->
      """WITH b AS (
        |  SELECT user_id, ts, event_id, value,
        |         count(*) OVER (PARTITION BY user_id) AS n,
        |         sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |              OVER (PARTITION BY user_id) AS sc,
        |         sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
        |             * CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |              OVER (PARTITION BY user_id) AS q4
        |  FROM events),
        |c AS (
        |  SELECT user_id, ts, event_id, value, n,
        |         CAST(sc AS DOUBLE) / (100.0 * n) AS mu,
        |         sqrt(CAST(n * q4 - sc * sc AS DOUBLE)
        |              / (10000.0 * n * (n - 1))) AS sd
        |  FROM b WHERE n > 1),
        |d AS (
        |  SELECT user_id, ts, event_id, sd,
        |         CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |              OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                    ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 100
        |         - CAST(row_number() OVER (PARTITION BY user_id
        |                    ORDER BY ts, event_id) AS DOUBLE) * mu AS cum
        |  FROM c),
        |e AS (
        |  SELECT user_id, sd,
        |         cum - least(min(cum) OVER (PARTITION BY user_id
        |                 ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING), 0)
        |           AS cusum
        |  FROM d)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |       round(max(cusum), 6) AS max_cusum,
        |       CAST(count(*) FILTER (round(cusum, 6) > round(3.0 * sd, 6))
        |            AS BIGINT) AS n_alarms
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,
    "event_dau_wau" ->
      """WITH ud AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY day),
        |wau AS (
        |  SELECT d.day, count(DISTINCT u.user_id) AS wau
        |  FROM (SELECT DISTINCT day FROM ud) d
        |  JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
        |  GROUP BY d.day)
        |SELECT day, dau, wau,
        |       CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
        |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin,
    "event_gap_fill" ->
      """WITH counts AS (
        |  SELECT date_trunc('hour', ts) AS hr, event_type, count(*) AS n_raw
        |  FROM events GROUP BY 1, 2),
        |bounds AS (
        |  SELECT min(date_trunc('hour', ts)) AS h_min,
        |         max(date_trunc('hour', ts)) AS h_max FROM events),
        |hours AS (
        |  SELECT unnest(generate_series(h_min, h_max, INTERVAL 1 HOUR)) AS hr
        |  FROM bounds),
        |types AS (SELECT DISTINCT event_type FROM events)
        |SELECT hr, event_type, COALESCE(n_raw, 0) AS n,
        |       CAST(sum(COALESCE(n_raw, 0)) OVER (PARTITION BY event_type ORDER BY hr
        |                                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n
        |FROM hours CROSS JOIN types
        |LEFT JOIN counts USING (hr, event_type)
        |ORDER BY hr, event_type""".stripMargin)
}
