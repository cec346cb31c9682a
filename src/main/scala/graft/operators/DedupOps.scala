package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Document deduplication for training-data pipelines (SURVEY.md §2 group H;
  * north star per BASELINE.json:6). The reference dedups events exactly by id
  * (ref: cmd/gh-archived/main.go:153-162) and by storage key
  * (ref: README.md:14); these operators generalize that to content identity
  * over the `documents` table.
  *
  * Every operator returns the RETAINED document set (survivors), with the
  * canonical rule "keep the smallest doc_id of each duplicate group" — the
  * deterministic analog of ReplacingMergeTree's keep-one (SURVEY.md §7.4.3).
  *
  * Scale design (100 TB discipline):
  *  - no O(n²) anywhere: candidate pairs come from equality joins on
  *    LSH band hashes / shared shingles (shuffle on the band key, which is
  *    high-cardinality and well distributed);
  *  - signatures are computed with built-in codegen'd higher-order functions
  *    (transform/aggregate/xxhash64) — whole-stage codegen, no UDFs, no
  *    driver-side loops;
  *  - the verify step (true Jaccard / Hamming / cosine) touches only
  *    candidate pairs, never the corpus cross product.
  */
object DedupOps {

  /** Distinct word-3-gram shingles of `text`, HASHED to 64-bit longs — the
    * unit of near-dup identity. Hashing at creation makes every downstream
    * op — explode, groupBy, equi-join, array_intersect in the verify step —
    * operate on fixed-width longs instead of variable-length strings;
    * 64-bit collisions are negligible at any corpus size. One fused
    * codegen'd pass (functions/ShingleHashes): the higher-order-function
    * phrasing re-split the text per element inside the interpreted lambda —
    * O(tokens²) per document, 4.3 s of dedup_minhash's 6.2 s at sf0.1.
    */
  private def shingles(text: Column): Column =
    graft.functions.api.shingleHashes(text)

  private def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast(DoubleType) /
      size(array_union(a, b)).cast(DoubleType)

  /** docs with (doc_id, sh) shingle-set column, persisted: every near-dup
    * pipeline references it from BOTH sides of a self-join and again in the
    * verify step, and a self-join duplicates the unpersisted subtree in the
    * physical plan (ReuseExchange dedups only the shuffle, not the scan +
    * shingle computation). At 100 TB this is the standard
    * materialize-the-signatures step; here MEMORY_AND_DISK spills safely.
    */
  private def shingled(s: SparkSession, dir: String): DataFrame =
    OpCache.cached(dir,
      Tables.documents(s, dir).select(col("doc_id"), shingles(col("text")).as("sh")))

  /** Exact-Jaccard (>= 0.8) duplicate pairs (a_id < b_id), candidates from
    * AllPairs/PPJoin prefix filtering (public literature): under a fixed
    * global shingle order, any pair with J >= t must share a shingle within
    * each side's first n - ceil(t*n) + 1 sorted shingles — so the inverted
    * index is built over PREFIXES only, then true Jaccard over the full
    * sets confirms. The global order is ASCENDING DOCUMENT FREQUENCY (the
    * AllPairs ordering): prefixes then hold each doc's rarest shingles, so
    * posting lists in the candidate join are short — a lexicographic order
    * would concentrate the corpus's most common shingles into every prefix
    * and make the join quadratic again (measured 2x WORSE than no prefix).
    * Candidate-complete by THEOREM (not probability) → safe under an exact
    * all-pairs SQL oracle. Shared by dedup_ngram_jaccard (pairwise retain)
    * and dedup_cluster_cc (transitive clustering); cached because both
    * consumers reference it more than once per plan.
    */
  private def exactJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingled(s, dir)
    OpCache.cached(dir, {
      val posts = sh.select(col("doc_id"), size(col("sh")).as("n"),
        explode(col("sh")).as("g"))
      val dfreq = posts.groupBy("g").agg(count(lit(1)).as("dfc"))
      val w = Window.partitionBy("doc_id").orderBy("dfc", "g")
      // persisted: both self-join sides reference it; unpersisted, the
      // dfreq join + window would run once per side
      val prefixPosts = OpCache.cached(dir,
        posts.join(dfreq, Seq("g"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= col("n") - ceil(col("n") * 0.8) + 1)
          .select("doc_id", "n", "g"))
      // AllPairs length filter: J >= t forces t*|b| <= |a| (for |a| <= |b|),
      // so size-incompatible pairs are pruned inside the candidate join.
      val cand = prefixPosts.as("x").join(prefixPosts.as("y"),
          col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id") &&
          col("x.n") >= ceil(col("y.n") * 0.8) &&
          col("y.n") >= ceil(col("x.n") * 0.8))
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
        .distinct()
      cand
        .join(sh.select(col("doc_id").as("a_id"), col("sh").as("sh_a")), Seq("a_id"))
        .join(sh.select(col("doc_id").as("b_id"), col("sh").as("sh_b")), Seq("b_id"))
        .filter(jaccard(col("sh_a"), col("sh_b")) >= 0.8)
        .select("a_id", "b_id")
    })
  }

  /** Large-star round: every node points its LARGER neighbors at the
    * minimum of its closed neighborhood. Output edges are (larger node,
    * candidate root), strictly decreasing on the right.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("u"), col("v"))
      .unionAll(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u").agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("mv"), col("u")).as("m"))
    sym.join(mins, Seq("u"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
  }

  /** Small-star round: orient every edge toward the smaller endpoint, then
    * connect each node's smaller neighbors (and itself) to the minimum.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val dir0 = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
    val mins = dir0.groupBy("u").agg(min(col("v")).as("m"))
    dir0.join(mins, Seq("u"))
      .filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
      .unionAll(mins.select(col("u"), col("m").as("v")))
      .distinct()
  }

  /** Connected components of the undirected graph `edges` (u, v): returns
    * (u, root) for every non-isolated node, root = component minimum.
    * Alternates large-star/small-star to a fixpoint detected by an
    * order-independent one-row checksum (count + xor of per-edge hashes).
    * Each round CHECKPOINTS its edge set: a star round references its
    * input from four places, so carrying lineage across rounds grows the
    * logical plan ~4^rounds — persist alone caches data but not the plan,
    * and round 6 already OOMs the planner. `localCheckpoint` cuts the
    * lineage to the materialized blocks (on a multi-node cluster, use
    * reliable `checkpoint` with a checkpoint dir instead — local blocks
    * die with an executor; same shape, durable storage).
    */
  private[graft] def ccRoots(edges: DataFrame): DataFrame = {
    // XOR fold, not sum: order-independent like sum but cannot overflow
    // under ANSI arithmetic (hashes span the full long range)
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    // r11 (guide §2.4/§5): the per-round checkpoints are LAZY — the very
    // next statement's checksum action materializes them, so semantics and
    // failure behavior are unchanged (the driver still sees each round
    // complete before deciding to continue), but each round runs ONE job
    // instead of two (eager localCheckpoint ran its own job, then the
    // checksum re-scanned the cached blocks). On a multi-node cluster use
    // reliable checkpoint() instead: locally-checkpointed blocks die with
    // their executor, and under the lazy form a late executor loss costs a
    // full recompute of that round (ADVICE r10 #4 caveat — acceptable
    // here, the checksum bounds laziness to a single round).
    var cur = edges.select(col("u"), col("v")).distinct()
      .localCheckpoint(false)
    var sig = checksum(cur)
    var converged = sig._1 == 0L
    var rounds = 0
    // 2^(2^15) nodes exceeds any corpus: the bound is a defect guard, not a
    // tuning knob — O(log n) convergence is the algorithm's theorem.
    while (!converged && rounds < 15) {
      val next = smallStar(largeStar(cur)).localCheckpoint(false)
      val nsig = checksum(next)
      cur = next
      converged = nsig == sig
      sig = nsig
      rounds += 1
    }
    // fixpoint edges form stars (node -> component min); min() is belt and
    // braces against a round-limit stop on adversarial input
    cur.groupBy("u").agg(min(col("v")).as("root"))
  }

  /** Retained = documents minus those with a verified duplicate of smaller id.
    * `pairs` must carry (a_id, b_id) with a_id < b_id.
    */
  /** Verified near-dup pairs (a_id < b_id) via MinHash LSH over a shingled
    * corpus: 64-permutation signature (ONE custom TypedImperativeAggregate,
    * graft.functions.MinHashSignature — a long[64] sketch buffer updated in
    * a tight loop with map-side partial aggregation, vs 64 independent
    * min(hash) columns at 64× the hash work), 16 bands × 4 rows hashed to a
    * band key, band-bucket equi-join proposes candidates, true shingle
    * Jaccard ≥ 0.7 confirms. The band table is persisted (OpCache, over
    * `dir`'s data) — the self-join below would otherwise run the signature
    * aggregation once per side. Shared by dedup_minhash (probabilistic,
    * rows-only) and dedup_minhash_planted (the deterministic
    * exact-duplicate contract, oracle-paired).
    */
  private def minHashPairs(dir: String, sh: DataFrame): DataFrame = {
    val posts = sh.select(col("doc_id"), explode(col("sh")).as("g"))
    val sig = posts.groupBy("doc_id")
      .agg(graft.functions.api.minHashSig(col("g")).as("sig"))
    val bands = OpCache.cached(dir, sig.select(col("doc_id"),
        posexplode(array((0 until 16).map(b => xxhash64(
          element_at(col("sig"), b * 4 + 1), element_at(col("sig"), b * 4 + 2),
          element_at(col("sig"), b * 4 + 3), element_at(col("sig"), b * 4 + 4))): _*)))
      .toDF("doc_id", "band", "bhash"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bhash") === col("y.bhash") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("a_id"), col("sh").as("sh_a")), Seq("a_id"))
      .join(sh.select(col("doc_id").as("b_id"), col("sh").as("sh_b")), Seq("b_id"))
      .filter(jaccard(col("sh_a"), col("sh_b")) >= 0.7)
      .select("a_id", "b_id")
  }

  private def retain(docs: DataFrame, pairs: DataFrame): DataFrame =
    docs.join(pairs.select(col("b_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  /** ALL pairs at Hamming distance <= 3 between 64-bit signatures, by the
    * generalized block pigeonhole (Manku/Jain/Sarma, "Detecting
    * Near-Duplicates for Web Crawling", WWW'07 — the multi-table simhash
    * index, public literature): split the signature into B blocks; <= 3
    * flipped bits damage <= 3 blocks, so every qualifying pair agrees on
    * some (B-3)-block combination. Index each doc under all C(B,3)
    * combination keys, equality-join, popcount-verify <= 3. Complete for
    * EVERY B >= 4 — B only moves the candidate-generation cost curve:
    *
    *   B=4: 4 single-band rows/doc, 16-bit keys — random-collision pairs
    *        ~ 4·n²/2¹⁷ (the r8 VERDICT's quadratic-in-n ceiling past 2¹⁶
    *        docs), cheapest below ~10⁵ docs where collisions are few;
    *   B=6: 20 rows/doc, 3-block ~32-bit keys — collisions ~ 20·n²/2³³,
    *        linear-cost territory through ~10⁸ docs;
    *   B=8: 56 rows/doc, 5-block 40-bit keys — collisions ~ 56·n²/2⁴¹,
    *        the web-scale (10⁹+) configuration from the paper.
    *
    * Selected corpus-adaptively from the corpus size (the SrpBandKeys
    * discipline — VERDICT r8 ask #3: the scale trade is a PARAMETER, not a
    * ceiling note), crossovers at the cost-curve intersections above;
    * `graft.simhash.blocks` forces a layout (specs pin that all three
    * yield the identical pair set). The verified pair set — and so the
    * retained set — is Hamming-exact and LAYOUT-INDEPENDENT.
    */
  /** The (doc_id, sig, combo, ckey) posting rows of the Manku block index
    * for a given layout: each doc indexed under all C(B,3) packed
    * (B-3)-block combination keys.
    */
  private def simhashComboKeys(sim: DataFrame, blocks: Int): DataFrame = {
    require(Set(4, 6, 8)(blocks),
      s"graft.simhash.blocks must be 4, 6, or 8 (got $blocks)")
    // block widths as equal as 64/B allows (B=6 -> 11,11,11,11,10,10);
    // arithmetic shiftright's sign-fill is masked off by the width mask
    val widths = Array.tabulate(blocks)(i =>
      64 / blocks + (if (i < 64 % blocks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _).init
    val slot = widths.max // per-block bits in the packed combo key
    val combos = (0 until blocks).combinations(blocks - 3).toSeq
    def comboKey(combo: Seq[Int]): Column =
      combo.foldLeft(lit(0L)) { (acc, i) =>
        shiftleft(acc, slot).bitwiseOR(
          shiftright(col("sig"), offsets(i))
            .bitwiseAND(lit((1L << widths(i)) - 1L)))
      }
    sim.select(col("doc_id"), col("sig"),
        posexplode(array(combos.map(comboKey): _*)))
      .toDF("doc_id", "sig", "combo", "ckey")
  }

  private[graft] def simhashNearDupPairs(sim: DataFrame): DataFrame = {
    // Layout selection precedence (ADVICE r9 #5 — constructing this plan is
    // NOT fully lazy by default and callers should know why): an explicit
    // `graft.simhash.blocks` wins; else `graft.simhash.corpusHint` (an
    // approximate doc count a catalog or caller already knows) derives B
    // with no job; else ONE eager count() against the cached signature
    // table runs at plan-build time, because B shapes the physical plan
    // (rows/doc and key width) and cannot be a runtime branch. Plan-only
    // harnesses that must stay lazy pass either conf.
    def derive(n: Long) = if (n <= 100000L) 4 else if (n <= 100000000L) 6 else 8
    val conf = sim.sparkSession.conf
    val blocks = conf.getOption("graft.simhash.blocks").map(_.toInt)
      .orElse(conf.getOption("graft.simhash.corpusHint")
        .map(h => derive(h.toLong)))
      .getOrElse(derive(sim.count()))
    val keyed = simhashComboKeys(sim, blocks)
    // signature rides ON the key rows: the popcount verify runs INSIDE
    // the equality join as a codegen'd post-join filter (r7 — only
    // VERIFIED pairs reach the distinct() exchange)
    keyed.as("x").join(keyed.as("y"),
        col("x.combo") === col("y.combo") && col("x.ckey") === col("y.ckey") &&
        col("x.doc_id") < col("y.doc_id") &&
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))) <= 3)
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: keep min doc_id per content identity. The group key is
    // (xxhash64(text), length(text)) — 16 bytes — NOT the text itself: at
    // 100 TB a groupBy(text) shuffles the whole corpus, the hash key
    // shuffles ~0.3% of it with identical results barring a same-length
    // 64-bit collision (p < 1e-19 · pairs; the standard content-hash dedup
    // contract). Map-side partial min collapses most groups pre-exchange.
    "dedup_text_exact" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val keep = d.groupBy(xxhash64(col("text")).as("h"), length(col("text")).as("len"))
        .agg(min(col("doc_id")).as("doc_id"))
      d.join(keep.select("doc_id"), Seq("doc_id"), "left_semi")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // Containment detection — C(A,B) = |A∩B| / |A|: a SHORT document whose
    // shingles sit almost entirely inside a longer one (quotes, excerpts,
    // boilerplate wrappers). Symmetric Jaccard misses exactly this case —
    // a 20-token quote inside a 500-token doc has J ≈ 0.04 but C = 1.0.
    // A naive posting self-join is a scale trap: one boilerplate shingle
    // shared by df documents contributes df² pairs. The asymmetric prefix
    // theorem fixes it exactly (no recall loss): under a fixed global
    // shingle order, C(A,B) >= t forces A to share one of its FIRST
    // |A| - ceil(t·|A|) + 1 ordered shingles with B — so only A's short
    // prefix (rarest-first, df-ascending order, same discipline as
    // exactJaccardPairs) probes the posting index; the exact containment
    // is then verified on the two full shingle sets. No length filter —
    // asymmetry is the point (tiny-in-huge is the target pair).
    "dedup_containment" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val sh = shingled(s, dir)
      val posts = sh.select(col("doc_id"), size(col("sh")).as("n"),
        explode(col("sh")).as("g"))
      val dfreq = posts.groupBy("g").agg(count(lit(1)).as("dfc"))
      val w = Window.partitionBy("doc_id").orderBy("dfc", "g")
      val aPrefix = posts.join(dfreq, Seq("g"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= col("n") - ceil(col("n") * 0.9) + 1)
        .select(col("doc_id").as("a_id"), col("g"))
      val cand = aPrefix.join(posts.select(col("doc_id").as("b_id"), col("g")), Seq("g"))
        .filter(col("a_id") =!= col("b_id"))
        .select("a_id", "b_id").distinct()
      cand
        .join(sh.select(col("doc_id").as("a_id"), col("sh").as("sh_a")), Seq("a_id"))
        .join(sh.select(col("doc_id").as("b_id"), col("sh").as("sh_b")), Seq("b_id"))
        .withColumn("containment",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
            size(col("sh_a")).cast(DoubleType))
        .filter(col("containment") >= 0.9)
        .select(col("a_id"), col("b_id"), round(col("containment"), 6).as("containment"))
        .orderBy("a_id", "b_id")
    }),

    // Incremental (continuous-ingest) near-dup screening: an INCOMING
    // micro-batch (the holdout hash bucket stands in for it) is probed
    // against the EXISTING corpus' shingle postings; an incoming doc is
    // rejected when exact Jaccard >= 0.8 against any indexed doc, accepted
    // otherwise. This is the production shape of dedup under ingest — the
    // index side is materialized once (OpCache here; at 100 TB the
    // persisted inverted-index table the batch pipeline already builds)
    // and only the SMALL incoming side is shingled per batch, so the probe
    // is an equi-join on the shingle hash with posting lists on one side
    // and a micro-batch on the other. No prefix filter: prefixes pay off
    // when BOTH sides are the corpus (see exactJaccardPairs); a micro-batch
    // probe touches only the postings its own shingles hit. Within-batch
    // duplicates are dedup_exact's job, not this key's.
    "dedup_incremental" -> ((s, dir) => {
      val sh = shingled(s, dir)
        .withColumn("is_new", Tables.splitHash(col("doc_id"), 100L) >= 90)
      val idx = sh.filter(!col("is_new"))
      val inc = sh.filter(col("is_new"))
      val idxPosts = OpCache.cached(dir,
        idx.select(col("doc_id").as("i_id"), size(col("sh")).as("i_n"),
          explode(col("sh")).as("g")))
      // Index-side gram document frequency — at scale this table is part of
      // the materialized index the ingest job already maintains (one row per
      // distinct gram, ≪ postings).
      val idxDf = OpCache.cached(dir,
        idxPosts.groupBy("g").agg(count(lit(1)).as("dfc")))
      val incPosts = inc.select(col("doc_id").as("d_id"),
        size(col("sh")).as("d_n"), explode(col("sh")).as("g"))
      // Probe-side prefix filter (round 8, the sf10 lesson): for Jaccard
      // ≥ 0.8 a probe doc with n grams has ≤ n − ceil(0.8n) grams the index
      // doc lacks, so ANY subset of ⌊n − ceil(0.8n)⌋ + 1 probe grams must
      // contain a shared one (pigeonhole — no order consistency with the
      // index side is needed because the index keeps FULL postings). Keeping
      // the RAREST grams (index df ascending; unseen grams df 0 join
      // nothing) makes the prefix maximally selective: probe volume drops
      // ~5× and the hot-boilerplate-gram × hot-gram candidate blowup — the
      // quadratic term that made the full-posting probe superlinear per
      // decade — is avoided entirely. Completeness is pinned against
      // all-pairs truth in CandidateCompletenessSpec.
      val probePfx = incPosts.join(idxDf, Seq("g"), "left")
        .na.fill(0L, Seq("dfc"))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("d_id").orderBy(col("dfc"), col("g"))))
        .filter(col("rk") <= col("d_n") - ceil(col("d_n") * 0.8) + 1)
        .select("d_id", "d_n", "g")
      // AllPairs length filter still applies across the two sides
      val cand = probePfx.join(idxPosts, Seq("g"))
        .filter(col("i_n") >= ceil(col("d_n") * 0.8) &&
          col("d_n") >= ceil(col("i_n") * 0.8))
        .select("d_id", "i_id").distinct()
      val hits = cand
        .join(inc.select(col("doc_id").as("d_id"), col("sh").as("sh_d")), Seq("d_id"))
        .join(idx.select(col("doc_id").as("i_id"), col("sh").as("sh_i")), Seq("i_id"))
        .filter(jaccard(col("sh_d"), col("sh_i")) >= 0.8)
        .select(col("d_id").as("doc_id")).distinct()
      Tables.documents(s, dir)
        .join(inc.select("doc_id"), Seq("doc_id"), "left_semi")
        .join(hits, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // MinHash + LSH: 64-permutation signature, 16 bands x 4 rows;
    // band-bucket equi-join proposes candidates, true shingle Jaccard
    // >= 0.7 confirms. Probabilistic recall → rows-only check, no SQL
    // oracle (see the oracle map note). The signature is ONE custom TypedImperativeAggregate
    // (graft.functions.MinHashSignature): a long[64] sketch buffer updated
    // in a tight loop — one multiply-add universal hash per permutation
    // over the pre-hashed shingle — with map-side partial aggregation, vs
    // 64 independent min(hash(k, g)) aggregate columns (64x the hash work
    // and a quadratic codegen surface).
    "dedup_minhash" -> ((s, dir) =>
      // Requires `objectHashAggregate.sortBased.fallbackThreshold` raised at
      // session construction (GraftSession.tuning — 512 B fixed sketch
      // buffers make the 128-group default absurdly conservative); set there,
      // not here, so builders never mutate shared session state.
      retain(Tables.documents(s, dir), minHashPairs(dir, shingled(s, dir)))),

    // The SQL-expressible slice of the MinHash contract (VERDICT r5 ask
    // #7): LSH recall on NEAR-dups is probabilistic (hence dedup_minhash
    // stays rows-only), but on EXACT duplicates it is deterministic —
    // identical text ⇒ identical shingle set ⇒ identical 64-perm signature
    // ⇒ all 16 bands collide ⇒ the pair is a candidate regardless of the
    // hash constants, and Jaccard 1 ≥ 0.7 always verifies. So: PLANT an
    // exact copy (doc_id + 1,000,000, larger than every original, so the
    // copy is always the dropped b_id) of every doc_id ≡ 3 (mod 10), run
    // the UNCHANGED LSH pipeline over the augmented corpus, and report
    // each planted copy's dropped verdict. The oracle knows every verdict
    // must be true — a recall regression anywhere in the shingle → sig →
    // band → verify chain flips a row to false and hash-fails the key.
    "dedup_minhash_planted" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      // planted ids start at max(doc_id)+1, computed from the corpus (the
      // ADVICE r6 #2 discipline, applied uniformly to every planted
      // contract): no corpus size can collide minted ids with natural ones,
      // and every copy sorts after its original so it is always the
      // dropped b_id. One scalar aggregate = bounded driver metadata.
      val plantBase = d.agg(max(col("doc_id"))).head.getLong(0) + 1L
      val planted = d.filter(pmod(col("doc_id"), lit(10L)) === 3L)
        .withColumn("doc_id", col("doc_id") + lit(plantBase))
      val corpus = d.select("doc_id", "text")
        .unionByName(planted.select("doc_id", "text"))
      val sh = OpCache.cached(dir,
        corpus.select(col("doc_id"), shingles(col("text")).as("sh")))
      val dropped = minHashPairs(dir, sh)
        .select(col("b_id").as("planted_id")).distinct()
        .withColumn("hit", lit(true))
      planted.select(col("doc_id").as("planted_id"))
        .join(dropped, Seq("planted_id"), "left")
        .select(col("planted_id"), coalesce(col("hit"), lit(false)).as("dropped"))
        .orderBy("planted_id")
    }),

    // The deterministic slice of the SimHash contract, oracle-paired
    // (VERDICT r6 ask #3 — the dedup_minhash_planted discipline): identical
    // text hashes to the identical 64-bit signature under ANY token hash,
    // so for a planted exact copy all four bands collide and the
    // popcount-0 verify cannot fail — recall = 1 by construction. Copies
    // of every doc_id ≡ 4 (mod 10) are planted at max(doc_id)+1, the
    // UNCHANGED dedup_simhash band/verify chain runs over the augmented
    // corpus, and each copy's dropped verdict is reported; the oracle
    // knows every verdict must be true. A regression anywhere in the
    // signature, banding, or Hamming verify flips a row and hash-fails.
    "dedup_simhash_planted" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val plantBase = d.agg(max(col("doc_id"))).head.getLong(0) + 1L
      val planted = d.filter(pmod(col("doc_id"), lit(10L)) === 4L)
        .withColumn("doc_id", col("doc_id") + lit(plantBase))
      val corpus = d.select("doc_id", "text")
        .unionByName(planted.select("doc_id", "text"))
      val sim = OpCache.cached(dir,
        corpus.select(col("doc_id"),
          graft.functions.api.simHash64(col("text")).as("sig")))
      // same corpus-adaptive candidate chain as dedup_simhash (r9): an
      // exact copy has Hamming 0, so EVERY block combination collides
      // under ANY layout — recall 1 holds for all of B in {4, 6, 8}
      val dropped = simhashNearDupPairs(sim)
        .select(col("b_id").as("planted_id")).distinct()
        .withColumn("hit", lit(true))
      planted.select(col("doc_id").as("planted_id"))
        .join(dropped, Seq("planted_id"), "left")
        .select(col("planted_id"), coalesce(col("hit"), lit(false)).as("dropped"))
        .orderBy("planted_id")
    }),

    // SimHash: 64-bit signature (per-bit majority over distinct-token
    // hashes); Hamming <= 3 found via the corpus-adaptive block-pigeonhole
    // index (simhashNearDupPairs — B in {4, 6, 8} picked from corpus
    // size), then popcount-verified. Hash-function-dependent -> no SQL
    // oracle; the planted twin is the oracle-paired contract. The
    // signature is ONE map-side scalar expression (functions/SimHash64) —
    // no token explode, no aggregation exchange: at 100 TB signatures
    // cost a single corpus scan, and candidate generation stays
    // ~linear-in-n at every corpus size because the index key width
    // grows with n (the r8 VERDICT's quadratic-in-n ceiling, retired).
    "dedup_simhash" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val sim = OpCache.cached(dir,
        d.select(col("doc_id"), graft.functions.api.simHash64(col("text")).as("sig")))
      retain(d, simhashNearDupPairs(sim))
    }),

    // N-gram Jaccard with prefix filtering (AllPairs/PPJoin family, public
    // literature): under a fixed global shingle order, any pair with
    // J >= t must share a shingle within each side's first
    // n - ceil(t*n) + 1 sorted shingles — so the inverted index is built
    // over PREFIXES only, then true Jaccard over the full sets confirms.
    // The global order is ASCENDING DOCUMENT FREQUENCY (the AllPairs
    // ordering): prefixes then hold each doc's rarest shingles, so posting
    // lists in the candidate join are short — a lexicographic order would
    // concentrate the corpus's most common shingles into every prefix and
    // make the join quadratic again (measured 2x WORSE than no prefix).
    "dedup_ngram_jaccard" -> ((s, dir) =>
      retain(Tables.documents(s, dir), exactJaccardPairs(s, dir))),

    // Transitive duplicate CLUSTERING — connected components over the
    // verified near-dup pair graph. Pairwise retain (above) under-deletes
    // on chains: if A~B and B~C but A!~C, keeping min-per-pair retains both
    // A and C even though they sit in one duplicate cluster; a training
    // corpus wants ONE representative per component. Algorithm: alternating
    // large-star / small-star (Kiveris et al., "Connected Components in
    // MapReduce and Beyond", public literature) — converges in O(log n)
    // rounds INDEPENDENT of component diameter, all rounds pure
    // groupBy/join DataFrame ops shuffling on the node id. Min-label
    // propagation (the naive loop) needs O(diameter) rounds — unbounded on
    // the chained near-dups a 100 TB crawl actually contains. Per round the
    // edge set is checkpointed so lineage stays one round deep (see
    // ccRoots); the only driver-side values are the one-row convergence
    // checksums (never the data).
    "dedup_cluster_cc" -> ((s, dir) => {
      val roots = ccRoots(exactJaccardPairs(s, dir)
        .select(col("a_id").as("u"), col("b_id").as("v")))
      Tables.documents(s, dir).select("doc_id", "lang", "source")
        .join(roots.withColumnRenamed("u", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("root"), col("doc_id")).as("rep_id"),
          col("lang"), col("source"))
        .orderBy("doc_id")
    }),

    // Embedding cosine near-dup: banded sign-random-projection LSH proposes
    // candidates, exact cosine >= 0.95 confirms, smaller vec_id retained.
    // Banding math (public LSH theory, Charikar's SRP family): a random
    // hyperplane splits a pair at angle theta with prob theta/pi, so at the
    // cosine-0.95 threshold each sign bit agrees with p = 1 - acos(.95)/pi
    // ~= 0.899. With 96 bands x 16 bits, a true dup pair misses EVERY band
    // with prob (1 - p^16)^96 ~= 4e-9 — effectively deterministic recall,
    // which is why this key keeps the exact-threshold oracle (unlike
    // dedup_minhash, whose 16x4 banding has a real recall gap). False
    // band collisions are removed by the exact cosine verify.
    // Scale: the join key xxhash64(band, bandBits) spreads candidates over
    // up to bands x 2^bits ~= 6.3M buckets; at 100 TB the bucket id is
    // the shuffle key and candidate volume is driven by the data's true
    // near-dup density, not by cluster sizes. The band WIDTH matters as
    // much as the count: the round-6 sf1 ramp measured the earlier 8-bit
    // bands quadratic on an isotropic corpus (random pairs collide at
    // 2^-8 per band -> n^2/16 false candidates, x136 wall-clock at 10x
    // rows); 16-bit bands cut the random-collision rate 256x per band and
    // the measured ratio to ~linear. The signature is ONE codegen'd
    // expression (functions/SrpBandKeys — a fused Java loop; the
    // higher-order-function phrasing paid per-element interpreted array
    // traversals), cached BEFORE the posexplode so Generate never
    // recomputes it per output row.
    "dedup_embedding" -> ((s, dir) => {
      val e = OpCache.cached(dir,
        Tables.embeddings(s, dir)
          .select(col("vec_id"),
            transform(col("embedding"), x => x.cast(DoubleType)).as("v")))
      // band WIDTH sized to the corpus (bits = ceil(log2 n) + 4, clamped):
      // random pairs collide per band at 2^-bits, so a fixed width goes
      // quadratic once n outgrows it — the sf1 ramp measured exactly that
      // (x136 at 8 bits), and a fixed 16 re-breaks at sf10's 500k vectors.
      // The count() reads the persisted base (one cheap action); at cluster
      // scale n comes from table stats. Recall at the 0.95 threshold stays
      // effectively 1 at every width ≤ MaxBits (≤ 4e-4 miss; oracle
      // pairing at the driver gate uses 16 bits where it is 4e-9).
      // FLAKE BOUND for exact-oracle sweeps (ADVICE r6 #5): this path is
      // probabilistic while the DuckDB oracle is exact all-pairs cosine, so
      // a hash sweep can flake with probability ≤ (#true pairs at ≥ 0.95) ×
      // per-pair miss. Adaptive widths keep that per-pair miss ≤ ~5e-6 at
      // sf1 (bits=20) and ≤ 4e-9 at the 16-bit driver gate; with the
      // synthetic corpora's O(100) qualifying pairs the sweep-level flake
      // stays < 1e-3 per decade — recorded beside the sweep config in
      // tools/scale_ramp.
      val n = e.count()
      val bits = math.min(graft.functions.SrpBandKeys.MaxBits,
        math.max(graft.functions.SrpBandKeys.Bits,
          64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1)) + 4))
      val sigs = OpCache.cached(dir,
        e.select(col("vec_id"),
          graft.functions.api.srpBandKeys(col("v"),
            graft.functions.SrpBandKeys.Bands, bits).as("bk")))
      val bands = sigs.select(col("vec_id"),
          posexplode(col("bk")).as(Seq("band", "bkey")))
        .select(col("vec_id"), xxhash64(col("band"), col("bkey")).as("bkey"))
      val cand = bands.as("x").join(bands.as("y"),
          col("x.bkey") === col("y.bkey") && col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"))
        .distinct()
      val pairs = cand
        .join(e.select(col("vec_id").as("a_id"), col("v").as("v_a")), Seq("a_id"))
        .join(e.select(col("vec_id").as("b_id"), col("v").as("v_b")), Seq("b_id"))
        .filter(graft.functions.api.cosineSim(col("v_a"), col("v_b")) >= 0.95)
        .select("a_id", "b_id")
      Tables.embeddings(s, dir)
        .join(pairs.select(col("b_id").as("vec_id")).distinct(), Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("label"), size(col("embedding")).cast(LongType).as("dim"))
        .orderBy("vec_id")
    }),

    // SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, public): cluster the
    // embedding space, then search for near-duplicates ONLY within each
    // cluster and keep the member closest to its cluster centroid — the
    // cluster is the candidate limiter (no global LSH pass), and the
    // representative choice is semantic (centroid proximity), not
    // arbitrary-id. Clusters here are the deterministic 6-bit sign bucket of
    // the first 6 dimensions so the DuckDB oracle can recompute them
    // exactly; the 100-TB deployment swaps in the k-means cells the engine
    // already trains (`ml_kmeans` / the IVF index build — cluster count
    // grows with the corpus, holding cell sizes bounded), and everything
    // downstream is unchanged. Drop rule (deterministic local dominance):
    // drop v iff some same-cluster neighbor u with cos(u,v) >= 0.9 sits
    // strictly closer to the centroid (6-dp tie broken by smaller vec_id).
    // Scale shape: centroids are one (cluster,dim) aggregate collapsing
    // map-side into a cluster × dim table (broadcast back); pairing is an
    // equality self-join on the cluster id; nothing all-pairs ever runs.
    "dedup_semantic" -> ((s, dir) => {
      val e = OpCache.cached(dir,
        Tables.embeddings(s, dir)
          .select(col("vec_id"), col("label"),
            transform(col("embedding"), x => x.cast(DoubleType)).as("v")))
      // cluster COUNT sized to the corpus (bits = ceil(log2 n) − 7, clamped
      // to [6, 12] ⇒ cells target ~128 vectors): within-cell pairing is
      // quadratic in cell size, so a fixed 64-way split re-grows cells
      // linearly with the corpus — the same lesson as the SRP band width,
      // applied to the cluster granularity. Integer ceil-log2 on both
      // engines (floats only touch integer boundaries at exact powers of
      // two, where IEEE log2 is exact). At the driver gate (n=500) this
      // clamps to the original 6 bits, so cluster ids are unchanged there.
      val n = e.count()
      val bits = math.min(12, math.max(6,
        (64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))) - 7))
      val cl = OpCache.cached(dir,
        e.withColumn("cluster",
          (1 to bits).map(i => when(element_at(col("v"), i) >= 0,
            lit(1L << (bits - i))).otherwise(lit(0L))).reduce(_ + _)))
      // centroid components ROUND to 6 dp before any cosine (the ml_kmeans
      // per-round discipline): avg() partials merge in partition-arrival
      // order, so raw centroids differ by ulps across engines and every
      // downstream cent_sim would inherit that noise at its own round(6)
      // boundary — quantizing here makes both engines' cosine INPUTS
      // identical, leaving only the fixed-length dot product's association
      // order (the residual every accepted key carries)
      val cent = cl.select(col("cluster"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy("cluster", "i").agg(round(avg("x"), 6).as("ce"))
        .groupBy("cluster")
        .agg(transform(array_sort(collect_list(struct(col("i"), col("ce")))),
          p => p.getField("ce")).as("cv"))
      val sc = OpCache.cached(dir,
        cl.join(broadcast(cent), Seq("cluster"))
          .withColumn("cent_sim",
            round(graft.functions.api.cosineSim(col("v"), col("cv")), 6))
          .select("vec_id", "cluster", "cent_sim", "label", "v"))
      val dominated = sc.as("x").join(sc.as("y"),
          col("x.cluster") === col("y.cluster") &&
            col("x.vec_id") =!= col("y.vec_id") &&
            (col("x.cent_sim") > col("y.cent_sim") ||
              (col("x.cent_sim") === col("y.cent_sim") &&
                col("x.vec_id") < col("y.vec_id"))))
        .filter(graft.functions.api.cosineSim(col("x.v"), col("y.v")) >= 0.9)
        .select(col("y.vec_id").as("vec_id")).distinct()
      sc.join(dominated, Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("cluster"), col("cent_sim"), col("label"))
        .orderBy("vec_id")
    }))


  /** Shared candidate-limited pair generation for the exact-Jaccard >= 0.8
    * family (dedup_ngram_jaccard + dedup_cluster_cc): the DuckDB mirror of
    * [[exactJaccardPairs]] — AllPairs df-ascending prefix filtering, the
    * two-way length filter inside the candidate join, exact Jaccard on the
    * full shingle sets. A fragment, not a statement: interpolates after
    * `WITH [RECURSIVE]` and yields `pairs(a_id, b_id)`. Lines carry `|`
    * margins because every consumer runs stripMargin after interpolation.
    * The multi-referenced CTEs are MATERIALIZED (r8): DuckDB inlines CTEs
    * by default, so dedup_cluster_cc's recursive closure re-evaluated the
    * whole candidate pipeline per recursion round — >900 s at sf10 where
    * one materialized pass is ~8 min even thread-capped.
    *
    * Grams are HASHED (DuckDB's own 64-bit hash(), round 10): at sf100 the
    * string-gram sh/posts CTEs materialized >100 GB and timed the oracle
    * out at 2700 s — 8-byte gram keys cut that ~10x. Semantics are
    * unchanged: every downstream step (df counts, prefix rank, equality
    * candidates, list_intersect/list_distinct verify) sees set identity,
    * which any injective-modulo-collision mapping preserves; a collision
    * (expected pairs ~G²/2^65 ≈ 0.06 at sf100's ~1.5e9 distinct grams)
    * could only MERGE two grams and would surface as a compare FAIL, never
    * hide one. The tie-break order moves from gram string to gram hash —
    * already immaterial by the prefix theorem (any fixed total order
    * works; the engine ranks by its OWN xxhash64 keys and the two engines
    * never needed order consistency, see the dedup_containment note).
    */
  private val prefixPairsSql: String =
    """sh AS MATERIALIZED (
      |  SELECT doc_id, CASE WHEN len(toks) >= 3
      |           THEN list_distinct(list_transform(range(len(toks)-2),
      |                  i -> hash(toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])))
      |           ELSE [hash(text)] END AS g
      |  FROM (SELECT doc_id, text, string_split(text,' ') AS toks FROM documents)),
      |posts AS (SELECT doc_id, len(g) AS n, unnest(g) AS gg FROM sh),
      |dfreq AS (SELECT gg, count(*) AS dfc FROM posts GROUP BY gg),
      |pfx AS MATERIALIZED (
      |  SELECT doc_id, n, gg FROM (
      |    SELECT posts.doc_id, posts.n, posts.gg,
      |           row_number() OVER (PARTITION BY posts.doc_id
      |                              ORDER BY dfreq.dfc, posts.gg) AS rk
      |    FROM posts JOIN dfreq USING (gg))
      |  WHERE rk <= n - ceil(n * CAST(0.8 AS DOUBLE)) + 1),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
      |  FROM pfx x JOIN pfx y ON x.gg = y.gg AND x.doc_id < y.doc_id
      |  WHERE x.n >= ceil(y.n * CAST(0.8 AS DOUBLE))
      |    AND y.n >= ceil(x.n * CAST(0.8 AS DOUBLE))),
      |pairs AS MATERIALIZED (
      |  SELECT a_id, b_id
      |  FROM cand JOIN sh a ON a.doc_id = cand.a_id
      |            JOIN sh b ON b.doc_id = cand.b_id
      |  WHERE len(list_intersect(a.g, b.g))::DOUBLE
      |        / len(list_distinct(list_concat(a.g, b.g))) >= 0.8)"""

  def oracle: Map[String, String] = Map(
    "dedup_text_exact" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,
    // dedup_minhash carries NO oracle by declared design (SURVEY §8): LSH is
    // probabilistic (per-pair recall ~98.8% at J=0.7 with 16x4 bands), so an
    // exact-Jaccard oracle only passes while the data happens to contain no
    // near-dups in the recall gap [0.7, ~0.95) — a data-dependent gate, not a
    // correctness statement. The exact-candidate-complete twin below
    // (dedup_ngram_jaccard: AllPairs prefix filtering, a completeness
    // THEOREM not a probability) is the oracle-paired guard of this family;
    // MinHashSpec + PropertySpec pin the signature math itself.
    // dedup_minhash_planted carves out the DETERMINISTIC slice of that
    // contract: exact duplicates always collide in every band (recall = 1
    // by construction, not probability), so the oracle simply asserts every
    // planted copy is dropped. The Spark side still runs the full LSH
    // pipeline — a regression anywhere in it emits false and hash-fails.
    "dedup_minhash_planted" ->
      """SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS planted_id,
        |       true AS dropped
        |FROM documents WHERE doc_id % 10 = 3
        |ORDER BY planted_id""".stripMargin,
    // dedup_simhash_planted: the same deterministic carve-out for the
    // SimHash family (VERDICT r6 ask #3) — identical text ⇒ identical
    // 64-bit signature ⇒ all four 16-bit bands collide ⇒ candidate, and
    // XOR popcount 0 <= 3 always verifies, regardless of the token hash
    // constants. The Spark side runs the UNCHANGED band + popcount-verify
    // pipeline; the oracle asserts every planted copy is dropped.
    "dedup_simhash_planted" ->
      """SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS planted_id,
        |       true AS dropped
        |FROM documents WHERE doc_id % 10 = 4
        |ORDER BY planted_id""".stripMargin,
    // CANDIDATE-LIMITED oracle (VERDICT r7 ask #2 — the r7 sweeps could
    // never check this key above sf0.01 because the old all-pairs join is
    // quadratic in ANY engine): the oracle now mirrors the engine's own
    // asymmetric prefix-filter candidate generation — A-side rarest-first
    // (df-ascending) prefix probes the full posting index, exact
    // containment verifies on the full shingle sets. Candidate-complete by
    // the same prefix THEOREM the engine relies on (any fixed total
    // shingle order works, so the engines' different tie-break orders —
    // string vs hash — cannot change the verified output), and the theorem
    // itself is pinned against a literal all-pairs computation in
    // CandidateCompletenessSpec. ceil() runs on an explicit DOUBLE in both
    // engines (DuckDB literals are DECIMAL — exact 0.8·n at n≡0 (mod 5)
    // would diverge from Spark's IEEE product, which lands one ulp above
    // the integer there).
    "dedup_containment" ->
      """WITH sh AS (
        |  SELECT doc_id, CASE WHEN len(toks) >= 3
        |           THEN list_distinct(list_transform(range(len(toks)-2),
        |                  i -> hash(toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])))
        |           ELSE [hash(text)] END AS g
        |  FROM (SELECT doc_id, text, string_split(text,' ') AS toks FROM documents)),
        |posts AS (SELECT doc_id, len(g) AS n, unnest(g) AS gg FROM sh),
        |dfreq AS (SELECT gg, count(*) AS dfc FROM posts GROUP BY gg),
        |pfx AS (
        |  SELECT doc_id, gg FROM (
        |    SELECT posts.doc_id, posts.n, posts.gg,
        |           row_number() OVER (PARTITION BY posts.doc_id
        |                              ORDER BY dfreq.dfc, posts.gg) AS rk
        |    FROM posts JOIN dfreq USING (gg))
        |  WHERE rk <= n - ceil(n * CAST(0.9 AS DOUBLE)) + 1),
        |cand AS (
        |  SELECT DISTINCT p.doc_id AS a_id, q.doc_id AS b_id
        |  FROM pfx p JOIN posts q ON p.gg = q.gg AND p.doc_id <> q.doc_id)
        |SELECT a_id, b_id,
        |       round(len(list_intersect(a.g, b.g))::DOUBLE / len(a.g), 6)
        |         AS containment
        |FROM cand JOIN sh a ON a.doc_id = cand.a_id
        |          JOIN sh b ON b.doc_id = cand.b_id
        |WHERE len(list_intersect(a.g, b.g))::DOUBLE / len(a.g) >= 0.9
        |ORDER BY a_id, b_id""".stripMargin,
    // CANDIDATE-LIMITED oracle (VERDICT r7 ask #2): mirrors the engine's
    // probe shape exactly — candidates are incoming-side postings
    // equi-joined to index-side postings (ANY shared shingle; no prefix —
    // a pair sharing no shingle has J = 0) under the two-way AllPairs
    // length filter, then exact Jaccard on the full sets verifies. The
    // length filter uses the same IEEE-double ceil as the engine (see the
    // dedup_containment comment).
    // PROBE-PREFIX oracle (round 8, the sf10 lesson): the probe side keeps
    // only its ⌊n − ceil(0.8n)⌋ + 1 rarest grams (index df ascending,
    // unseen grams first) before joining the FULL index postings —
    // complete by pigeonhole for ANY gram subset of that size, so no order
    // consistency with the engine (which ranks by shingle hash, not
    // string) is required; independence from the engine's candidate set is
    // pinned by CandidateCompletenessSpec's all-pairs cross-split truth.
    // The full-posting × full-posting join this replaces timed out at sf10
    // (boilerplate-gram × gram candidate blowup); the prefix probe sweeps.
    "dedup_incremental" ->
      """WITH d AS (
        |  SELECT *, ((doc_id % 2147483648) * 2654435761) % 100 >= 90 AS is_new FROM documents),
        |sh AS MATERIALIZED (
        |  SELECT doc_id, is_new, CASE WHEN len(toks) >= 3
        |           THEN list_distinct(list_transform(range(len(toks)-2),
        |                  i -> hash(toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])))
        |           ELSE [hash(text)] END AS g
        |  FROM (SELECT doc_id, is_new, text, string_split(text,' ') AS toks FROM d)),
        |iposts AS MATERIALIZED (
        |  SELECT doc_id, len(g) AS n, unnest(g) AS gg FROM sh WHERE NOT is_new),
        |nposts AS (SELECT doc_id, len(g) AS n, unnest(g) AS gg FROM sh WHERE is_new),
        |dfreq AS (SELECT gg, count(*) AS dfc FROM iposts GROUP BY gg),
        |pfx AS (
        |  SELECT doc_id, n, gg FROM (
        |    SELECT np.doc_id, np.n, np.gg,
        |           row_number() OVER (PARTITION BY np.doc_id
        |                              ORDER BY coalesce(df.dfc, 0), np.gg) AS rk
        |    FROM nposts np LEFT JOIN dfreq df USING (gg))
        |  WHERE rk <= n - ceil(n * CAST(0.8 AS DOUBLE)) + 1),
        |cand AS (
        |  SELECT DISTINCT p.doc_id AS d_id, i.doc_id AS i_id
        |  FROM pfx p JOIN iposts i ON p.gg = i.gg
        |  WHERE i.n >= ceil(p.n * CAST(0.8 AS DOUBLE))
        |    AND p.n >= ceil(i.n * CAST(0.8 AS DOUBLE))),
        |hits AS (
        |  SELECT DISTINCT d_id AS doc_id
        |  FROM cand JOIN sh a ON a.doc_id = cand.d_id
        |            JOIN sh b ON b.doc_id = cand.i_id
        |  WHERE len(list_intersect(a.g, b.g))::DOUBLE
        |        / len(list_distinct(list_concat(a.g, b.g))) >= 0.8)
        |SELECT doc_id, lang, source, n_chars FROM d
        |WHERE is_new AND doc_id NOT IN (SELECT doc_id FROM hits)
        |ORDER BY doc_id""".stripMargin,
    // CANDIDATE-LIMITED oracle (VERDICT r7 ask #2): the pair generation
    // mirrors exactJaccardPairs — AllPairs df-ascending prefix posting
    // self-join under the two-way length filter, exact Jaccard on full
    // sets verifies. Shared verbatim with dedup_cluster_cc (same pair
    // graph); completeness vs a literal all-pairs computation is pinned in
    // CandidateCompletenessSpec. ceil() on explicit DOUBLE (see the
    // dedup_containment comment).
    "dedup_ngram_jaccard" ->
      s"""WITH $prefixPairsSql,
        |dups AS (SELECT DISTINCT b_id FROM pairs)
        |SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT b_id FROM dups)
        |ORDER BY doc_id""".stripMargin,
    // The oracle states the semantic — transitive closure over the
    // exact-Jaccard >= 0.8 pair graph, representative = component minimum —
    // with a recursive CTE over the candidate-limited pair graph above;
    // the large-star/small-star rounds are an implementation detail the
    // oracle never sees.
    "dedup_cluster_cc" ->
      s"""WITH RECURSIVE $prefixPairsSql,
        |edges AS MATERIALIZED (
        |  SELECT a_id AS u, b_id AS v FROM pairs
        |  UNION SELECT b_id, a_id FROM pairs),
        |reach(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u AND e.v <> r.u),
        |rep AS (SELECT u AS doc_id, min(v) AS mn FROM reach GROUP BY u)
        |SELECT d.doc_id,
        |       least(d.doc_id, coalesce(rep.mn, d.doc_id)) AS rep_id,
        |       d.lang, d.source
        |FROM documents d LEFT JOIN rep USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // Threshold-exact all-pairs oracle: the LSH candidate key is an
    // implementation detail with ~4e-9 per-pair miss probability (see the
    // banding math above), so the oracle states the pure semantic — ANY
    // pair with cosine >= 0.95, no label shortcut.
    "dedup_embedding" ->
      """WITH e AS (SELECT vec_id, label,
        |                  list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        |dups AS (
        |  SELECT DISTINCT y.vec_id AS b_id
        |  FROM e x JOIN e y ON x.vec_id < y.vec_id
        |  WHERE list_dot_product(x.v, y.v)
        |        / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v)))
        |        >= 0.95)
        |SELECT vec_id, label, CAST(len(embedding) AS BIGINT) AS dim
        |FROM embeddings WHERE vec_id NOT IN (SELECT b_id FROM dups)
        |ORDER BY vec_id""".stripMargin,
    // The oracle recomputes the deterministic sign-bucket clusters, per-dim
    // centroid means, 6-dp centroid cosines, and the local-dominance drop
    // rule verbatim — cluster membership and centroid similarity are
    // checked on every row even when the corpus contains no near-dups
    // (NorthStarSpec plants the drop cases).
    "dedup_semantic" ->
      """WITH e AS (SELECT vec_id, label,
        |                  list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        |bb AS (SELECT least(12, greatest(6,
        |                CAST(ceil(log2(count(*))) AS INT) - 7)) AS bits
        |       FROM embeddings),
        |c AS (SELECT vec_id, label, v,
        |        CAST(list_sum(list_transform(range(1, bits + 1),
        |               i -> CASE WHEN v[i] >= 0
        |                         THEN 2 ** (bits - i) ELSE 0 END))
        |             AS BIGINT) AS cluster
        |      FROM e CROSS JOIN bb),
        |el AS (SELECT vec_id, cluster, i, v[i] AS x
        |       FROM c, range(1, 65) t(i)),
        |cent AS (SELECT cluster, i, round(avg(x), 6) AS ce
        |         FROM el GROUP BY cluster, i),
        |cs AS (SELECT vec_id, cluster,
        |              round(sum(x * ce) / (sqrt(sum(x * x)) * sqrt(sum(ce * ce))), 6)
        |                AS cent_sim
        |       FROM el JOIN cent USING (cluster, i)
        |       GROUP BY vec_id, cluster),
        |dropped AS (
        |  SELECT DISTINCT y.vec_id
        |  FROM c x JOIN c y ON x.cluster = y.cluster AND x.vec_id <> y.vec_id
        |  JOIN cs sx ON sx.vec_id = x.vec_id
        |  JOIN cs sy ON sy.vec_id = y.vec_id
        |  WHERE list_dot_product(x.v, y.v)
        |        / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v)))
        |        >= 0.9
        |    AND (sx.cent_sim > sy.cent_sim
        |         OR (sx.cent_sim = sy.cent_sim AND x.vec_id < y.vec_id)))
        |SELECT c.vec_id, c.cluster, cs.cent_sim, c.label
        |FROM c JOIN cs ON cs.vec_id = c.vec_id
        |WHERE c.vec_id NOT IN (SELECT vec_id FROM dropped)
        |ORDER BY c.vec_id""".stripMargin)
}
