package graft.operators

import graft.Tables
import graft.functions.api
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over the `embeddings` table (SURVEY.md §2 group H,
  * north star per BASELINE.json:6): brute-force cosine as the exact
  * baseline, random-hyperplane LSH bucketing as the scale path.
  *
  * Cosine is built from codegen'd higher-order functions (`zip_with` +
  * `aggregate`), evaluated in double precision with a fixed left-to-right
  * summation order — the same order the DuckDB oracle's
  * `list_dot_product` uses, so values compare exactly after round(.,6).
  *
  * Scale design: the brute-force path broadcasts the (small) query set and
  * streams the corpus once — a map-only plan, no shuffle, no driver
  * collect; top-k per query is a bounded window over (query, score). The
  * LSH path replaces the corpus stream with an equality join on bucket id,
  * cutting the candidate set by ~2^bits; at 100 TB the bucket id becomes
  * the shuffle/bucketing key and each cell is searched independently.
  */
object SimOps {

  /** Left-to-right double dot product of two array columns (built-in
    * higher-order functions — the reference formulation).
    */
  def dot(x: Column, y: Column): Column =
    aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity via built-ins — kept as the semantics reference;
    * bit-identical to the codegen'd `graft.functions.api.cosineSim` hot path
    * (asserted in CosineSpec), which pair-heavy operators use instead.
    */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  private def vecs(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast(DoubleType)).as("v"))


  /** `bits`-bit (<= 8) sign-random-projection bucket id of vector column
    * `v`: the low bits of the first [[graft.functions.SrpBandKeys]] band —
    * one fused codegen pass over the same public SRP family (the previous
    * higher-order-function formulation re-hashed every (plane, dim) pair
    * per row in an interpreted lambda).
    */
  def lshBucket(v: Column, bits: Int = 4): Column = {
    require(bits >= 1 && bits <= 8, s"lshBucket supports 1..8 bits, got $bits")
    // prefix variant: only band 1 is projected (planes 0..Bits-1 — the same
    // planes and bucket values as slicing the full array, at 1/96th the
    // mul-add cost; measured 3x on sim_topk_lsh after the r6 band widening)
    element_at(api.srpBandKeys(v, 1), 1).bitwiseAND(lit((1L << bits) - 1))
  }

  /** Index of the `cents` cell nearest to vector column `v` (1-based,
    * ties to the lowest cell id) — a map-only argmin against a literal
    * centroid matrix, fully inside whole-stage codegen.
    */
  private def nearestCell(v: Column, cents: Seq[Seq[Double]]): Column = {
    val dists = transform(typedlit(cents), c => api.sqDist(v, c))
    array_position(dists, array_min(dists)).cast(IntegerType)
  }

  /** The `nprobe` nearest cell ids for `v`, by ascending distance then cell
    * id — map-only, used to fan each query out to its probed cells.
    */
  private def nearestCells(v: Column, cents: Seq[Seq[Double]], nprobe: Int): Column =
    slice(transform(array_sort(
      transform(typedlit(cents), (c, i) =>
        struct(api.sqDist(v, c).as("d"), (i + 1).cast(IntegerType).as("cell")))),
      p => p("cell")), 1, nprobe)

  /** IVF index build over `corpus`, run once per `key` (`OpCache.once`, so
    * an in-place rewrite of the scale dir rebuilds it): `sim_topk_ivf`
    * indexes the scale dir's embeddings, `sim_ivf_planted` runs the
    * UNCHANGED build over corpus + planted copies. K seed centroids sampled by
    * xxhash64(vec_id) order, Lloyd trained to a fixed 5 iterations on a
    * BOUNDED deterministic sample (hash-ordered 4096 vectors — training
    * cost tracks the sample, not the corpus, which is what keeps the
    * build O(sample·iters) at 100 TB; each iteration is a map-only argmin
    * against the current centroid literals + per-cell element-wise mean,
    * the only shuffle n×dim skinny rows). Full-corpus assignment against
    * the trained centroids follows, and the corpus is written ONCE as
    * cell-partitioned parquet. Returns (index path, the K
    * centroids) — the centroids are the collected index METADATA (K ~
    * sqrt(N) rows, dimension-table sized), which is what makes assignment
    * and probe shuffle-free.
    */
  private def ivfIndex(key: String, corpus: => DataFrame): (String, Seq[Seq[Double]]) =
    OpCache.once(key) {
      val k = 16
      val lloydIters = 5
      val e = corpus.select("vec_id", "v")
      val seeds: Seq[Seq[Double]] = e.orderBy(xxhash64(col("vec_id"))).limit(k)
        .select("v").collect().map(_.getSeq[Double](0)).toSeq
      // training sample: deterministic hash-ordered draw, persisted once
      // and rescanned per iteration
      val sample = e.orderBy(xxhash64(col("vec_id"))).limit(4096).select("v")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var cents: Seq[Seq[Double]] = seeds
      try {
        for (_ <- 1 to lloydIters) {
          // persist barrier: Generate (posexplode) re-evaluates its child
          // projection per OUTPUT row, which would charge the 16-centroid
          // argmin 64x per vector (measured 13x slower) — materialize the
          // assignment first, explode from the cache
          val assign = sample
            .select(nearestCell(col("v"), cents).as("cell"), col("v"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val centroidRows =
            try {
              assign
                .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
                .groupBy("cell", "dim").agg(avg(col("x")).as("m"))
                .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
            } finally { assign.unpersist(); () }
          // cells that captured no vectors this round keep their centroid
          val refined = centroidRows.groupBy(_._1).map { case (cell, rs) =>
            cell -> rs.sortBy(_._2).map(_._3).toSeq
          }
          cents = cents.indices.map(i => refined.getOrElse(i + 1, cents(i)))
        }
      } finally { sample.unpersist(); () }
      val path = s"${System.getProperty("java.io.tmpdir")}/graft-ivf/" +
        OpCache.pathKey(key)
      e.withColumn("cell", nearestCell(col("v"), cents))
        .write.mode("overwrite").partitionBy("cell").parquet(path)
      (path, cents)
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Cosine of every corpus vector against the query vector (vec_id 0) —
    // broadcast the single query row, map-only over the corpus.
    "sim_cosine" -> ((s, dir) => {
      val e = vecs(s, dir)
      val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
      e.crossJoin(broadcast(q))
        .select(col("vec_id"), col("label"),
          round(api.cosineSim(col("v"), col("qv")), 6).as("cos"))
        .orderBy("vec_id")
    }),

    // Brute-force top-10 neighbors for each of 5 query vectors: broadcast
    // queries x streamed corpus, bounded rank window per query.
    "sim_topk" -> ((s, dir) => {
      val e = vecs(s, dir)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
      e.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          round(api.cosineSim(col("v"), col("qv")), 6).as("cos"))
        .withColumn("rk", row_number().over(w).cast(LongType))
        .filter(col("rk") <= 10)
        .orderBy("q_id", "rk")
    }),

    // Hard-negative mining — for each anchor, the most-similar vectors
    // bearing a DIFFERENT label: the contrastive-training pair generator
    // (the negatives that actually move a metric-learning loss are the
    // near-misses, not random draws). Same plan shape as `sim_topk`
    // (broadcast anchors, map-only scoring, bounded per-anchor window);
    // the label inequality rides in the broadcast join condition so
    // same-label rows never reach the ranker. Ordering on the ROUNDED
    // score + vec_id keeps the top-3 cut deterministic cross-engine.
    "sim_hard_negatives" -> ((s, dir) => {
      val e = vecs(s, dir)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("label").as("q_label"),
          col("v").as("qv"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
      e.join(broadcast(q), col("label") =!= col("q_label"))
        .select(col("q_id"), col("vec_id"), col("label"),
          round(api.cosineSim(col("v"), col("qv")), 6).as("cos"))
        .withColumn("rk", row_number().over(w).cast(LongType))
        .filter(col("rk") <= 3)
        .orderBy("q_id", "rk")
    }),

    // Binary-quantized ANN: sign-bit pack each 64-dim vector into two
    // 32-bit halves (BIGINT-safe on every engine — no 2^63 overflow),
    // coarse-rank candidates by Hamming distance (popcount of XOR — the
    // 1-bit quantization every production vector store ships), then
    // exact-cosine rerank the top-20 candidates to a top-10. The packed
    // signature is 8 bytes/vector — the corpus scan that matters at
    // 100 TB reads signatures, not floats; rerank touches only 20
    // candidates per query. Both stages are deterministic (sign bits,
    // integer Hamming, rounded-cosine + vec_id tiebreaks), so the DuckDB
    // twin replicates the full two-stage pipeline — an EXACT oracle for
    // an "approximate" index.
    "sim_binary_hamming" -> ((s, dir) => {
      def half(lo: Int) = expr(
        s"aggregate(sequence($lo, ${lo + 31}), 0L, " +
          s"(acc, i) -> acc + IF(element_at(v, i) > 0D, shiftleft(1L, i - $lo), 0L))")
      val sig = vecs(s, dir)
        .select(col("vec_id"), col("v"), half(1).as("h1"), half(33).as("h2"))
      val q = sig.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("h1").as("qh1"), col("h2").as("qh2"))
      val wH = Window.partitionBy("q_id").orderBy(col("hamming"), col("vec_id"))
      val wC = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
      sig.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"), col("v"), col("qv"),
          (bit_count(expr("h1 ^ qh1")) + bit_count(expr("h2 ^ qh2")))
            .cast(LongType).as("hamming"))
        .withColumn("hrk", row_number().over(wH))
        .filter(col("hrk") <= 20)
        .select(col("q_id"), col("vec_id"), col("hamming"),
          round(api.cosineSim(col("v"), col("qv")), 6).as("cos"))
        .withColumn("rk", row_number().over(wC).cast(LongType))
        .filter(col("rk") <= 10)
        .orderBy("q_id", "rk")
    }),

    // Late-interaction (ColBERT MaxSim) scoring: treat the 5 query
    // vectors as one multi-vector query and each label group as one
    // multi-vector document — score(doc) = Σ over query tokens of the
    // MAX cosine against any doc vector. Map-only scoring against the
    // broadcast query block, then two shrinking aggregates (corpus →
    // (label, qtok) maxes → label scores); the corpus is touched once
    // and never shuffled on anything wider than the label key. Sums of
    // 6-dp maxes re-round at 6 so cross-engine addition order can't
    // surface an ulp.
    "sim_maxsim_late_interaction" -> ((s, dir) => {
      val e = vecs(s, dir)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      e.crossJoin(broadcast(q))
        .select(col("label"), col("q_id"),
          round(api.cosineSim(col("v"), col("qv")), 6).as("cos"))
        .groupBy("label", "q_id").agg(max("cos").as("maxsim"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_qtoks"),
          round(sum("maxsim"), 6).as("maxsim_score"))
        .orderBy("label")
    }),

    // Reciprocal-rank fusion of two retrievers — the standard
    // hybrid-search merge (Cormack et al.'s k=60): the exact-cosine
    // ranker and the sign-bit Hamming ranker each keep their own
    // bounded top-20, and a candidate's fused score is the sum of
    // 1/(60+rank) over the lists it appears on (the truncated-list RRF
    // convention — absent from a list contributes zero). ONE corpus
    // pass against the broadcast query block, then two rank windows
    // over the SAME q_id exchange (different sort, same partitioning —
    // no second shuffle); ranks are integers and 1/(60+r) is exact
    // division, so the fusion cannot drift cross-engine — round(6)
    // only at the final score.
    "sim_rrf_fusion" -> ((s, dir) => {
      def half(lo: Int) = expr(
        s"aggregate(sequence($lo, ${lo + 31}), 0L, " +
          s"(acc, i) -> acc + IF(element_at(v, i) > 0D, shiftleft(1L, i - $lo), 0L))")
      val sig = vecs(s, dir)
        .select(col("vec_id"), col("v"), half(1).as("h1"), half(33).as("h2"))
      val q = sig.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("h1").as("qh1"), col("h2").as("qh2"))
      val wC = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
      val wH = Window.partitionBy("q_id").orderBy(col("hamming"), col("vec_id"))
      val wF = Window.partitionBy("q_id").orderBy(col("rrf").desc, col("vec_id"))
      sig.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          round(api.cosineSim(col("v"), col("qv")), 6).as("cos"),
          (bit_count(expr("h1 ^ qh1")) + bit_count(expr("h2 ^ qh2")))
            .cast(LongType).as("hamming"))
        .withColumn("rc", row_number().over(wC))
        .withColumn("rh", row_number().over(wH))
        .filter(col("rc") <= 20 || col("rh") <= 20)
        .select(col("q_id"), col("vec_id"),
          round(when(col("rc") <= 20, lit(1.0) / (lit(60) + col("rc")))
              .otherwise(lit(0.0))
            + when(col("rh") <= 20, lit(1.0) / (lit(60) + col("rh")))
              .otherwise(lit(0.0)), 6).as("rrf"))
        .withColumn("rk", row_number().over(wF).cast(LongType))
        .filter(col("rk") <= 10)
        .orderBy("q_id", "rk")
    }),

    // Matryoshka truncation: slice each embedding to its 16-dim prefix
    // and score against the query in BOTH spaces — the MRL serving
    // pattern (coarse search in the prefix, exact score in full dim).
    // Map-only over the corpus with the broadcast query row; the cosine
    // renormalizes per-space, so no separate renorm pass is needed.
    "embed_mrl_truncate" -> ((s, dir) => {
      val e = vecs(s, dir)
      val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
      e.crossJoin(broadcast(q))
        .select(col("vec_id"), col("label"),
          round(api.cosineSim(slice(col("v"), 1, 16), slice(col("qv"), 1, 16)), 6)
            .as("cos_mrl16"),
          round(api.cosineSim(col("v"), col("qv")), 6).as("cos_full"))
        .orderBy("vec_id")
    }),

    // LSH-bucketed ANN: candidates share the query's 4-bit
    // sign-random-projection bucket; approximate by construction -> no
    // SQL oracle (driver records rows-only).
    "sim_topk_lsh" -> ((s, dir) => {
      val e = vecs(s, dir).withColumn("bucket", lshBucket(col("v")))
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("bucket"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
      e.join(broadcast(q), Seq("bucket"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          round(api.cosineSim(col("v"), col("qv")), 6).as("cos"))
        .withColumn("rk", row_number().over(w).cast(LongType))
        .filter(col("rk") <= 10)
        .orderBy("q_id", "rk")
    }),

    // The DETERMINISTIC slice of the LSH-bucket ANN contract, oracle-paired
    // (VERDICT r6 ask #3 — the sim_ivf_planted discipline applied to the
    // SRP bucket path): identical vectors project to the identical sign
    // pattern under ANY hyperplanes, so a planted exact copy always lands
    // in its original's bucket and the original is always in the copy's
    // candidate set — top-1 at cosine 1.0 by geometry, not probability.
    // 50 copies planted at max(vec_id)+1, the UNCHANGED bucket + top-k
    // pipeline runs over corpus ∪ copies with the copies as queries. The
    // probabilistic remainder (recall on NEAR neighbors across buckets)
    // stays rows-only on sim_topk_lsh with the NorthStarSpec floor.
    "sim_lsh_planted" -> ((s, dir) => {
      val base = vecs(s, dir).select("vec_id", "v")
      val plantBase = base.agg(max(col("vec_id"))).head.getLong(0) + 1L
      val planted = base.filter(col("vec_id") < 50)
        .select((col("vec_id") + plantBase).as("vec_id"), col("v"))
      val e = base.unionByName(planted).withColumn("bucket", lshBucket(col("v")))
      val q = e.filter(col("vec_id").between(plantBase, plantBase + 49L))
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("bucket"))
      // r10 (guide §2.3): top-1 per query is min_by on (−cos, vec_id) —
      // identical to the old (cos DESC, vec_id ASC) rank-1 window, as a
      // partial-aggregating hash pass with no candidate sort.
      e.join(broadcast(q), Seq("bucket"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          round(api.cosineSim(col("v"), col("qv")), 6).as("cos"))
        .groupBy("q_id")
        .agg(min_by(struct(col("vec_id"), col("cos")),
          struct(-col("cos"), col("vec_id"))).as("top"))
        .select(col("q_id").as("planted_id"), col("top.vec_id").as("top1_id"),
          col("top.cos").as("top_cos"))
        .orderBy("planted_id")
    }),

    // IVF-Flat ANN (the index family behind FAISS-style vector search,
    // public literature): partition the corpus into K Voronoi cells around
    // data-dependent centroids, search only the query's nprobe nearest
    // cells. The index is a PERSISTED ARTIFACT, exactly as it would be at
    // 100 TB: the corpus is written once as cell-partitioned parquet
    // (`ivfIndex`), the K centroids are collected once as driver-side
    // index metadata (K ~ sqrt(N) rows — dimension-table sized), and both
    // assignment and probe are map-only argmins against that constant —
    // no shuffle anywhere in the index build or the search. The candidate
    // read is a broadcast equi-join of (query, probe-cell) pairs against
    // the cell-partitioned index, which dynamic partition pruning narrows
    // to the probed cells' directories only.
    // Approximate by construction -> no SQL oracle (rows-only); recall
    // >= 0.9 vs brute force is asserted in NorthStarSpec.
    "sim_topk_ivf" -> ((s, dir) => {
      val (path, cents) = ivfIndex(dir + "#ivf", vecs(s, dir))
      val idx = Tables.parquet(s, path)
      // queries probe their nprobe=2 nearest cells; candidates are the
      // union of those cells only
      val probes = idx.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          explode(nearestCells(col("v"), cents, 2)).as("cell"))
      val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
      idx.join(broadcast(probes), Seq("cell"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          round(api.cosineSim(col("v"), col("qv")), 6).as("cos"))
        .withColumn("rk", row_number().over(w).cast(LongType))
        .filter(col("rk") <= 10)
        .orderBy("q_id", "rk")
    }),

    // The DETERMINISTIC slice of the IVF contract, oracle-paired (the
    // dedup_minhash_planted discipline applied to ANN): identical vectors
    // quantize to the same Voronoi cell under ANY centroids, so for a
    // planted exact copy the probe CANNOT miss — recall = 1 by geometry,
    // not probability. 50 copies are planted (vec_id + 1e6), the UNCHANGED
    // index build + probe pipeline runs over corpus ∪ copies, and each
    // planted query's top-1 must be its original at cosine 1.0 — a
    // regression anywhere in the assignment, the partitioned index, the
    // probe-cell explode, or the ranking surfaces as a hash mismatch. The
    // probabilistic remainder of the contract (recall on NEAR-dups under
    // nprobe) stays rows-only with the NorthStarSpec recall floor.
    "sim_ivf_planted" -> ((s, dir) => {
      val base = vecs(s, dir).select("vec_id", "v")
      // planted ids start at max(vec_id)+1 — COMPUTED from the corpus, not
      // a fixed 1e6 offset, so a corpus of any size (GenScale replicas
      // reach 9.9e9) can never have natural rows drafted as probes or
      // collide with minted ids (ADVICE r6 #2). One scalar aggregate =
      // bounded driver metadata; the oracle computes the same base with
      // the same integer max.
      val plantBase = base.agg(max(col("vec_id"))).head.getLong(0) + 1L
      val planted = base.filter(col("vec_id") < 50)
        .select((col("vec_id") + plantBase).as("vec_id"), col("v"))
      val (path, cents) = ivfIndex(dir + "#ivf_planted", base.unionByName(planted))
      val idx = Tables.parquet(s, path)
      // probe EXACTLY the minted id range, not an open >= bound
      val probes = idx.filter(col("vec_id").between(plantBase, plantBase + 49L))
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          explode(nearestCells(col("v"), cents, 2)).as("cell"))
      // r10 (guide §2.3): same min_by argmax as sim_lsh_planted — no
      // candidate sort, map-side partial top-1 per probe.
      idx.join(broadcast(probes), Seq("cell"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id"),
          round(api.cosineSim(col("v"), col("qv")), 6).as("cos"))
        .groupBy("q_id")
        .agg(min_by(struct(col("vec_id"), col("cos")),
          struct(-col("cos"), col("vec_id"))).as("top"))
        .select(col("q_id").as("planted_id"), col("top.vec_id").as("top1_id"),
          col("top.cos").as("top_cos"))
        .orderBy("planted_id")
    }),

    // Per-class centroid (prototype) vectors and every vector's cosine to
    // its own class centroid — the compaction step behind IVF coarse
    // quantizers, class prototypes, and outlier mining ("which members sit
    // far from their cluster center?"). The centroid build is the only
    // shuffle: posexplode is map-local, the (label, dim) partial averages
    // collapse map-side before one exchange, and the finished centroid
    // table is labels × dim — dimension-table sized at any corpus scale —
    // so the scoring pass is a broadcast join + map-only fused cosine.
    "sim_centroid" -> ((s, dir) => {
      val e = vecs(s, dir)
      val cent = e
        .select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy("label", "i").agg(avg("x").as("c"))
        .groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
          p => p.getField("c")).as("cv"))
      e.join(broadcast(cent), Seq("label"))
        .select(col("vec_id"), col("label"),
          // nz: sf10's sign-flipped replicas contain members near-orthogonal
          // to their class centroid — a rounded-zero cosine needs the
          // sign-of-zero canonicalization (r7 sweep catch; Tables.nz doc)
          Tables.nz(round(api.cosineSim(col("v"), col("cv")), 6)).as("cos_centroid"))
        .orderBy("vec_id")
    }),

    // Symmetric int8 quantization of the embedding column — the 4×
    // shrink every 100-TB vector corpus applies before indexing (public
    // FAISS/ScaNN practice). Map-only: per-vector scale = max|x|/127,
    // q = round(x/scale) ∈ [-127,127]. The quantized L2² is an EXACT
    // integer (strong oracle bits), and reconstruction MSE comes from the
    // algebraic identity Σ(x-q·s)² = ⟨v,v⟩ − 2s⟨v,q⟩ + s²⟨q,q⟩ — three
    // scalar reductions instead of materializing the residual vector,
    // with the same left-to-right dot both engines use elsewhere.
    "embed_quantize" -> ((s, dir) => {
      val e = vecs(s, dir)
        .withColumn("scale",
          greatest(array_max(transform(col("v"), x => abs(x))), lit(1e-30))
            / lit(127.0))
        .withColumn("q", transform(col("v"),
          x => round(x / col("scale")).cast(IntegerType)))
      val qd = transform(col("q"), x => x.cast(DoubleType))
      e.select(col("vec_id"), col("label"),
          round(col("scale"), 6).as("scale"),
          element_at(col("q"), 1).as("q1"),
          aggregate(col("q"), lit(0L),
            (acc, x) => acc + x.cast(LongType) * x.cast(LongType))
            .as("q_l2sq"),
          round((dot(col("v"), col("v"))
            - lit(2.0) * col("scale") * dot(col("v"), qd)
            + col("scale") * col("scale") * dot(qd, qd)) / lit(64.0), 6)
            .as("mse"))
        .orderBy("vec_id")
    }),

    // Covariance matrix of the embedding corpus — the PCA / whitening /
    // decorrelation input — via the one-pass mergeable CoMoment aggregate
    // (functions/CoMoment.scala): O(d²) state per partition however many
    // vectors, partials merge element-wise, and the d(d+1)/2 result is a
    // single metadata-sized row. The compositional alternative (explode
    // each vector to (i, j, x·y) rows) shuffles N·d² rows — 4096× the
    // input at d=64, impossible at 100 TB. Pair covariances derive from
    // the flat moment buffer with a 2080-row literal index table
    // broadcast-joined to the one aggregate row.
    "embed_covariance" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.api.coMoment
      val d = 64
      val m = vecs(s, dir).agg(coMoment(col("v"), d).as("m"))
      // 1-based element_at index of Σx_i·x_j in the flat buffer
      // [n, Σx_0…Σx_{d-1}, upper-triangular Σx_i·x_j]
      val pairs = (for { i <- 0 until d; j <- i until d } yield
        (i.toLong, j.toLong,
          (1 + d + i * (2 * d - i + 1) / 2 + (j - i) + 1).toLong))
        .toDF("i", "j", "idx")
      val n = element_at(col("m"), 1)
      pairs.crossJoin(broadcast(m))
        .select(col("i"), col("j"),
          Tables.nz(round(element_at(col("m"), col("idx").cast(IntegerType)) / n
            - (element_at(col("m"), col("i").cast(IntegerType) + 2) / n)
            * (element_at(col("m"), col("j").cast(IntegerType) + 2) / n), 6))
            .as("cov"))
        .orderBy("i", "j")
    }),

    // Correlation matrix of the embedding corpus (ClickHouse `corrMatrix`
    // analog) — the scale-free sibling of `embed_covariance`, and the
    // standard "which dimensions are redundant?" diagnostic before
    // whitening/truncation. SAME single CoMoment exchange (O(d²) state,
    // one aggregate row); corr_ij = cov_ij / √(cov_ii·cov_jj) derives
    // per-pair from the broadcast moment buffer via three element_at
    // probes — the corpus is scanned exactly once however many of these
    // matrix keys run.
    "embed_correlation" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.api.coMoment
      val d = 64
      val m = vecs(s, dir).agg(coMoment(col("v"), d).as("m"))
      def idx(i: Column, j: Column): Column =
        (lit(1 + d) + i * (lit(2 * d) - i + 1) / 2 + (j - i) + 1).cast(IntegerType)
      val pairs = (for { i <- 0 until d; j <- i until d } yield
        (i.toLong, j.toLong)).toDF("i", "j")
      val n = element_at(col("m"), 1)
      def rawCov(i: Column, j: Column): Column =
        element_at(col("m"), idx(i, j)) / n -
          (element_at(col("m"), i.cast(IntegerType) + 2) / n) *
          (element_at(col("m"), j.cast(IntegerType) + 2) / n)
      pairs.crossJoin(broadcast(m))
        .select(col("i"), col("j"),
          Tables.nz(round(rawCov(col("i"), col("j"))
            / sqrt(rawCov(col("i"), col("i")) * rawCov(col("j"), col("j"))), 6))
            .as("corr"))
        .orderBy("i", "j")
    }),

    // In-plan Lloyd k-means over the embedding corpus (k=4, 3 fixed
    // iterations, seeds = the k smallest vec_ids) — the oracle-paired
    // sibling of the IVF index build (same algorithm; the IVF variant is
    // rows-only because its hash-sampled training set has no SQL twin).
    // Per iteration: map-only argmin against BROADCAST centroid literals
    // (whole-stage codegen, no shuffle), then ONE skinny (cell, dim)
    // aggregate; centroids live on the driver as k×d metadata (IVF /
    // PageRank discipline). Determinism: computed centroids are ROUNDED
    // to 6 dp each iteration on BOTH engines, so cross-engine float-sum
    // ulps are re-absorbed every round instead of compounding; empty
    // cells keep their previous centroid (pinned identically in the
    // oracle's fallback UNION).
    "ml_kmeans" -> ((s, dir) => {
      val k = 4
      val iters = 3
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      // persisted: each Lloyd round is a collect ACTION, so an unpersisted
      // base re-scans the parquet + recasts per round (+ once more for the
      // final assignment) — 5 scans for 3 rounds
      val e = OpCache.cached(dir, vecs(s, dir))
      var cents: Seq[Seq[Double]] = e.orderBy("vec_id").limit(k)
        .select("v").collect().map(_.getSeq[Double](0)).toSeq
      for (_ <- 1 to iters) {
        val rows = e
          .select(nearestCell(col("v"), cents).as("cell"), col("v"))
          .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
          .groupBy("cell", "dim").agg(avg("x").as("m"))
          .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
        val refined = rows.groupBy(_._1).map { case (c, rs) =>
          c -> rs.sortBy(_._2).map(t => r6(t._3)).toSeq
        }
        cents = cents.indices.map(i => refined.getOrElse(i + 1, cents(i)))
      }
      val dists = transform(typedlit(cents), c => api.sqDist(col("v"), c))
      e.select(col("vec_id"),
          array_position(dists, array_min(dists)).cast(LongType).as("cluster"),
          round(array_min(dists), 6).as("dist2"))
        .orderBy("vec_id")
    }),

    // Top-principal-component projection of the corpus — the embedding
    // whitening / decorrelation step of a training pipeline. The heavy
    // lifting is ONE CoMoment aggregate (O(d²) state, one exchange); the
    // 64×64 covariance then lives on the DRIVER as index metadata (the
    // IVF-centroid discipline), where 40 deterministic power iterations
    // (uniform start, L2-normalized each step) extract the dominant
    // eigenvector (40 ≈ converged even at the corpus's λ2/λ1 ≈ 0.99
    // eigengap — captured variance ≥ 0.994·λ1 at every test scale). Projection of every vector onto it is MAP-ONLY — the
    // component ships as a broadcast literal, the dot product is a
    // codegen'd zip_with/aggregate. The oracle unrolls the IDENTICAL 10
    // iterations as chained CTEs (the graph_pagerank pattern), so both
    // engines converge through the same algebra; round(6) absorbs
    // matvec summation-order ulps (power iteration is contractive — they
    // do not amplify).
    "embed_pca_project" -> ((s, dir) => {
      val d = 64
      import graft.functions.api.coMoment
      val mRow = vecs(s, dir).agg(coMoment(col("v"), d)).head.getSeq[Double](0)
      val n = mRow(0)
      val mu = Array.tabulate(d)(i => mRow(1 + i) / n)
      val cov = Array.ofDim[Double](d, d)
      var k = 1 + d
      var i = 0
      while (i < d) {
        var j = i
        while (j < d) {
          val c = mRow(k) / n - mu(i) * mu(j)
          cov(i)(j) = c; cov(j)(i) = c
          k += 1; j += 1
        }
        i += 1
      }
      var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
      for (_ <- 1 to 40) {
        val w = Array.tabulate(d)(r => {
          var acc = 0.0; var c = 0
          while (c < d) { acc += cov(r)(c) * v(c); c += 1 }
          acc
        })
        val nrm = math.sqrt(w.map(x => x * x).sum)
        v = w.map(_ / nrm)
      }
      val pcLit = array(v.map(lit(_)): _*)
      val muLit = array(mu.map(lit(_)): _*)
      vecs(s, dir)
        .select(col("vec_id"),
          round(aggregate(
            zip_with(zip_with(col("v"), muLit, (x, m) => x - m), pcLit,
              (c, p) => c * p),
            lit(0.0), (acc, x) => acc + x), 6).as("pc1"))
        .orderBy("vec_id")
    }),

    // Multimodal record: text + embedding + metadata bundled in one struct
    // column (documents joined to embeddings on doc_id = vec_id, dimension
    // broadcast), fields projected back out as scalars.
    "multimodal_struct" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val e = Tables.embeddings(s, dir)
      d.join(e, col("doc_id") === col("vec_id"))
        .withColumn("rec", struct(
          col("doc_id"), col("lang"), col("source"),
          struct(col("label"), col("embedding")).as("vec"),
          struct(col("n_chars")).as("meta")))
        .select(
          col("rec.doc_id").as("doc_id"),
          col("rec.lang").as("lang"),
          col("rec.vec.label").as("label"),
          size(col("rec.vec.embedding")).cast(LongType).as("dim"),
          round(element_at(col("rec.vec.embedding"), 1).cast(DoubleType), 6).as("e1"),
          col("rec.meta.n_chars").as("n_chars"))
        .orderBy("doc_id")
    }))

  def oracle: Map[String, String] = Map(
    // The planted slice asserts the geometric certainty only: identical
    // vectors share a cell, so each planted copy's top-1 is its original
    // at cosine 1.0 (no other corpus vector reaches 1.0 at the gate
    // scale — isotropic fixture, no natural exact dups).
    "sim_ivf_planted" ->
      """SELECT vec_id + (SELECT max(vec_id) + 1 FROM embeddings) AS planted_id,
        |       vec_id AS top1_id, 1.0 AS top_cos
        |FROM embeddings WHERE vec_id < 50
        |ORDER BY planted_id""".stripMargin,
    // sim_lsh_planted: same planted-copy geometry through the SRP bucket
    // path — identical vector ⇒ identical bucket ⇒ the original is always
    // a candidate and wins top-1 at cosine 1.0.
    "sim_lsh_planted" ->
      """SELECT vec_id + (SELECT max(vec_id) + 1 FROM embeddings) AS planted_id,
        |       vec_id AS top1_id, 1.0 AS top_cos
        |FROM embeddings WHERE vec_id < 50
        |ORDER BY planted_id""".stripMargin,
    "sim_cosine" ->
      """WITH e AS (SELECT vec_id, label,
        |                  list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
        |SELECT e.vec_id, e.label,
        |       round(list_dot_product(e.v, q.qv)
        |             / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))),
        |             6) AS cos
        |FROM e CROSS JOIN q ORDER BY e.vec_id""".stripMargin,
    "sim_topk" ->
      """WITH e AS (SELECT vec_id, label,
        |                  list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.q_id, e.vec_id,
        |         round(list_dot_product(e.v, q.qv)
        |               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))),
        |               6) AS cos
        |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id)
        |SELECT q_id, vec_id, cos,
        |       row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
        |FROM scored QUALIFY rk <= 10 ORDER BY q_id, rk""".stripMargin,
    "sim_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label,
        |                  list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        |q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv
        |      FROM e WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.q_id, e.vec_id, e.label,
        |         round(list_dot_product(e.v, q.qv)
        |               / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))),
        |               6) AS cos
        |  FROM e CROSS JOIN q WHERE e.label <> q.q_label)
        |SELECT q_id, vec_id, label, cos,
        |       row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
        |FROM scored QUALIFY rk <= 3 ORDER BY q_id, rk""".stripMargin,
    "sim_binary_hamming" ->
      """WITH e AS (SELECT vec_id, label,
        |                  list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        |sig AS (
        |  SELECT vec_id, v,
        |         CAST(list_sum(list_transform(range(1, 33),
        |           i -> CASE WHEN v[i] > 0 THEN CAST(2 ** (i - 1) AS BIGINT)
        |                ELSE 0 END)) AS BIGINT) AS h1,
        |         CAST(list_sum(list_transform(range(33, 65),
        |           i -> CASE WHEN v[i] > 0 THEN CAST(2 ** (i - 33) AS BIGINT)
        |                ELSE 0 END)) AS BIGINT) AS h2
        |  FROM e),
        |q AS (SELECT vec_id AS q_id, v AS qv, h1 AS qh1, h2 AS qh2
        |      FROM sig WHERE vec_id < 5),
        |ham AS (
        |  SELECT q.q_id, s.vec_id, s.v, q.qv,
        |         CAST(bit_count(xor(s.h1, q.qh1)) + bit_count(xor(s.h2, q.qh2))
        |              AS BIGINT) AS hamming
        |  FROM sig s CROSS JOIN q WHERE s.vec_id <> q.q_id),
        |cand AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |              ORDER BY hamming, vec_id) AS hrk
        |  FROM ham QUALIFY hrk <= 20),
        |scored AS (
        |  SELECT q_id, vec_id, hamming,
        |         round(list_dot_product(v, qv)
        |               / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))),
        |               6) AS cos
        |  FROM cand)
        |SELECT q_id, vec_id, hamming, cos,
        |       row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rk
        |FROM scored QUALIFY rk <= 10 ORDER BY q_id, rk""".stripMargin,
    "sim_maxsim_late_interaction" ->
      """WITH e AS (SELECT vec_id, label,
        |                  list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
        |scored AS (
        |  SELECT e.label, q.q_id,
        |         round(list_dot_product(e.v, q.qv)
        |               / (sqrt(list_dot_product(e.v, e.v))
        |                  * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
        |  FROM e CROSS JOIN q),
        |ms AS (
        |  SELECT label, q_id, max(cos) AS maxsim
        |  FROM scored GROUP BY label, q_id)
        |SELECT label, CAST(count(*) AS BIGINT) AS n_qtoks,
        |       round(sum(maxsim), 6) AS maxsim_score
        |FROM ms GROUP BY label ORDER BY label""".stripMargin,
    "sim_rrf_fusion" ->
      """WITH e AS (SELECT vec_id,
        |                  list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        |sig AS (
        |  SELECT vec_id, v,
        |         CAST(list_sum(list_transform(range(1, 33),
        |           i -> CASE WHEN v[i] > 0 THEN CAST(2 ** (i - 1) AS BIGINT)
        |                ELSE 0 END)) AS BIGINT) AS h1,
        |         CAST(list_sum(list_transform(range(33, 65),
        |           i -> CASE WHEN v[i] > 0 THEN CAST(2 ** (i - 33) AS BIGINT)
        |                ELSE 0 END)) AS BIGINT) AS h2
        |  FROM e),
        |q AS (SELECT vec_id AS q_id, v AS qv, h1 AS qh1, h2 AS qh2
        |      FROM sig WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.q_id, s.vec_id,
        |         round(list_dot_product(s.v, q.qv)
        |               / (sqrt(list_dot_product(s.v, s.v))
        |                  * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos,
        |         CAST(bit_count(xor(s.h1, q.qh1)) + bit_count(xor(s.h2, q.qh2))
        |              AS BIGINT) AS hamming
        |  FROM sig s CROSS JOIN q WHERE s.vec_id <> q.q_id),
        |rnk AS (
        |  SELECT q_id, vec_id,
        |         row_number() OVER (PARTITION BY q_id
        |           ORDER BY cos DESC, vec_id) AS rc,
        |         row_number() OVER (PARTITION BY q_id
        |           ORDER BY hamming, vec_id) AS rh
        |  FROM scored),
        |f AS (
        |  SELECT q_id, vec_id,
        |         round(CASE WHEN rc <= 20 THEN 1e0 / (60 + rc) ELSE 0e0 END
        |             + CASE WHEN rh <= 20 THEN 1e0 / (60 + rh) ELSE 0e0 END,
        |           6) AS rrf
        |  FROM rnk WHERE rc <= 20 OR rh <= 20)
        |SELECT q_id, vec_id, rrf,
        |       CAST(row_number() OVER (PARTITION BY q_id
        |              ORDER BY rrf DESC, vec_id) AS BIGINT) AS rk
        |FROM f QUALIFY rk <= 10 ORDER BY q_id, rk""".stripMargin,
    "embed_mrl_truncate" ->
      """WITH e AS (SELECT vec_id, label,
        |                  list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
        |SELECT e.vec_id, e.label,
        |       round(list_dot_product(e.v[1:16], q.qv[1:16])
        |             / (sqrt(list_dot_product(e.v[1:16], e.v[1:16]))
        |                * sqrt(list_dot_product(q.qv[1:16], q.qv[1:16]))), 6)
        |         AS cos_mrl16,
        |       round(list_dot_product(e.v, q.qv)
        |             / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))),
        |             6) AS cos_full
        |FROM e CROSS JOIN q ORDER BY e.vec_id""".stripMargin,
    "sim_centroid" ->
      """WITH e AS (SELECT vec_id, label,
        |                  list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        |el AS (SELECT vec_id, label, i, v[i] AS x
        |       FROM e, range(1, 65) t(i)),
        |cent AS (SELECT label, i, avg(x) AS c FROM el GROUP BY label, i)
        |SELECT vec_id, label,
        |       round(sum(x * c) / (sqrt(sum(x * x)) * sqrt(sum(c * c))), 6) + 0
        |         AS cos_centroid
        |FROM el JOIN cent USING (label, i)
        |GROUP BY vec_id, label
        |ORDER BY vec_id""".stripMargin,
    "embed_quantize" ->
      """WITH e AS (SELECT vec_id, label,
        |                  list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        |s AS (SELECT vec_id, label, v,
        |             greatest(list_max(list_transform(v, x -> abs(x))), 1e-30)
        |               / 127.0 AS scale
        |      FROM e),
        |q AS (SELECT vec_id, label, v, scale,
        |             list_transform(v, x -> CAST(round(x / scale) AS INTEGER)) AS qv
        |      FROM s)
        |SELECT vec_id, label,
        |       round(scale, 6) AS scale,
        |       qv[1] AS q1,
        |       CAST(list_sum(list_transform(qv,
        |              x -> CAST(x AS BIGINT) * CAST(x AS BIGINT))) AS BIGINT) AS q_l2sq,
        |       round((list_dot_product(v, v)
        |              - 2.0 * scale * list_dot_product(v, list_transform(qv, x -> x::DOUBLE))
        |              + scale * scale * list_dot_product(list_transform(qv, x -> x::DOUBLE),
        |                                                 list_transform(qv, x -> x::DOUBLE)))
        |             / 64.0, 6) AS mse
        |FROM q ORDER BY vec_id""".stripMargin,
    // the IDENTICAL 40 power iterations the Spark side runs driver-side,
    // unrolled as chained CTEs (the graph_pagerank oracle pattern).
    // Every chained CTE is MATERIALIZED: v$k references w$k twice, so
    // DuckDB's default inlining would re-evaluate the O(d²·n) covariance
    // 2^iters times (observed: minutes instead of milliseconds).
    // Contractive iteration keeps summation-order ulps « round(6).
    "embed_pca_project" -> {
      val iters = (1 to 40).map { k =>
        s"""w$k AS MATERIALIZED (
           |  SELECT c.i, sum(c.cv * v${k - 1}.x) AS w
           |  FROM cov c JOIN v${k - 1} ON c.j = v${k - 1}.i GROUP BY c.i),
           |v$k AS MATERIALIZED (
           |  SELECT i, w / (SELECT sqrt(sum(w * w)) FROM w$k) AS x
           |  FROM w$k)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED (
         |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
         |  FROM embeddings),
         |idx AS (SELECT range AS i FROM range(64)),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM e),
         |mu AS MATERIALIZED (
         |  SELECT i, sum(v[i + 1]) / (SELECT n FROM nn) AS m
         |  FROM idx CROSS JOIN e GROUP BY i),
         |raw AS (
         |  SELECT a.i AS i, b.i AS j, sum(v[a.i + 1] * v[b.i + 1]) AS s
         |  FROM idx a CROSS JOIN idx b CROSS JOIN e
         |  GROUP BY a.i, b.i),
         |cov AS MATERIALIZED (
         |  SELECT r.i, r.j, r.s / (SELECT n FROM nn) - ma.m * mb.m AS cv
         |  FROM raw r JOIN mu ma ON ma.i = r.i JOIN mu mb ON mb.i = r.j),
         |v0 AS (SELECT i, 1.0 / sqrt(64.0) AS x FROM idx),
         |$iters
         |SELECT e.vec_id,
         |       round(sum((v[i.i + 1] - mu.m) * v40.x), 6) AS pc1
         |FROM e CROSS JOIN idx i
         |JOIN mu ON mu.i = i.i JOIN v40 ON v40.i = i.i
         |GROUP BY e.vec_id ORDER BY e.vec_id""".stripMargin
    },
    // identical raw-sum algebra (Σxy/n − (Σx/n)(Σy/n)), not covar_pop, so
    // the only cross-engine noise is summation-order ulps « round(6)
    "embed_covariance" ->
      """WITH e AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        |p AS (SELECT a.range AS i, b.range AS j
        |      FROM range(64) a, range(64) b WHERE a.range <= b.range)
        |SELECT i, j,
        |       round(sum(v[i+1] * v[j+1]) / count(*)
        |             - (sum(v[i+1]) / count(*)) * (sum(v[j+1]) / count(*)),
        |             6) + 0 AS cov
        |FROM p CROSS JOIN e
        |GROUP BY i, j ORDER BY i, j""".stripMargin,
    // the identical 3 Lloyd rounds unrolled; centroids rounded to 6 dp per
    // round on both engines (re-absorbs float-sum ulps); empty-cell
    // fallback pinned via the NOT IN union
    "ml_kmeans" -> {
      def iter(i: Int): String = {
        val prev = s"cf${i - 1}"
        s"""a$i AS MATERIALIZED (
           |  SELECT vec_id, cell FROM (
           |    SELECT e.vec_id, c.cell,
           |           sum((e.v[c.dim + 1] - c.m) * (e.v[c.dim + 1] - c.m)) AS d2
           |    FROM e, $prev c GROUP BY 1, 2)
           |  QUALIFY row_number() OVER (PARTITION BY vec_id
           |                             ORDER BY d2, cell) = 1),
           |c$i AS MATERIALIZED (
           |  SELECT a.cell, d.dim, round(avg(e.v[d.dim + 1]), 6) AS m
           |  FROM a$i a JOIN e USING (vec_id), dims d GROUP BY 1, 2),
           |cf$i AS MATERIALIZED (
           |  SELECT * FROM c$i
           |  UNION ALL
           |  SELECT p.cell, p.dim, p.m FROM $prev p
           |  WHERE p.cell NOT IN (SELECT DISTINCT cell FROM c$i))""".stripMargin
      }
      s"""WITH e AS MATERIALIZED (
         |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
         |  FROM embeddings),
         |dims AS (SELECT unnest(range(64)) AS dim),
         |cf0 AS MATERIALIZED (
         |  SELECT s.cell, d.dim, s.v[d.dim + 1] AS m
         |  FROM (SELECT v, CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER)
         |               AS cell
         |        FROM e QUALIFY cell <= 4) s, dims d),
         |${(1 to 3).map(iter).mkString(",\n")}
         |SELECT vec_id, CAST(cell AS BIGINT) AS cluster,
         |       round(d2, 6) AS dist2
         |FROM (
         |  SELECT e.vec_id, c.cell,
         |         sum((e.v[c.dim + 1] - c.m) * (e.v[c.dim + 1] - c.m)) AS d2
         |  FROM e, cf3 c GROUP BY 1, 2)
         |QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) = 1
         |ORDER BY vec_id""".stripMargin
    },
    // same raw-sum covariance algebra as embed_covariance, normalized by
    // the diagonal — summation-order ulps « round(6)
    "embed_correlation" ->
      """WITH e AS (SELECT list_transform(embedding, x -> x::DOUBLE) AS v
        |           FROM embeddings),
        |p AS (SELECT a.range AS i, b.range AS j
        |      FROM range(64) a, range(64) b WHERE a.range <= b.range),
        |c AS (
        |  SELECT i, j,
        |         sum(v[i+1] * v[j+1]) / count(*)
        |           - (sum(v[i+1]) / count(*)) * (sum(v[j+1]) / count(*)) AS cv
        |  FROM p CROSS JOIN e
        |  GROUP BY i, j),
        |d AS (SELECT i, cv AS dv FROM c WHERE i = j)
        |SELECT c.i, c.j,
        |       round(c.cv / sqrt(di.dv * dj.dv), 6) + 0 AS corr
        |FROM c JOIN d di ON di.i = c.i JOIN d dj ON dj.i = c.j
        |ORDER BY c.i, c.j""".stripMargin,
    "multimodal_struct" ->
      """SELECT doc_id, lang, label,
        |       CAST(len(embedding) AS BIGINT) AS dim,
        |       round(embedding[1]::DOUBLE, 6) AS e1,
        |       n_chars
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |ORDER BY doc_id""".stripMargin)
}
