package graft.functions

import org.apache.spark.sql.{graftBridge, Column}
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** DataFrame-API entry points for the engine's custom expressions. */
object api {
  /** Codegen'd cosine similarity of two numeric-array columns (cast to
    * array<double> at the boundary).
    */
  def cosineSim(a: Column, b: Column): Column = {
    val dd = ArrayType(DoubleType)
    graftBridge.column(CosineSimilarity(
      graftBridge.expression(a.cast(dd)), graftBridge.expression(b.cast(dd))))
  }

  /** MinHash signature aggregate over a pre-hashed (bigint) shingle column:
    * one `array<bigint>` of `numPerms` per-permutation minima per group.
    */
  def minHashSig(shingleHash: Column, numPerms: Int = 64): Column =
    graftBridge.column(MinHashSignature(
      graftBridge.expression(shingleHash), numPerms).toAggregateExpression())

  /** Codegen'd distinct hashed word-3-gram shingles of a text column —
    * single fused tokenize+hash pass (see [[ShingleHashes]]).
    */
  def shingleHashes(text: Column): Column =
    graftBridge.column(ShingleHashes(graftBridge.expression(text)))

  /** Mergeable SpaceSaving heavy-hitters sketch over a string column —
    * the ClickHouse `topK` analog (see [[ApproxTopK]]); exact while a
    * group's distinct count stays within `capacity`.
    */
  def approxTopK(item: Column, k: Int = 3, capacity: Int = 64): Column =
    graftBridge.column(ApproxTopK(graftBridge.expression(item), k, capacity)
      .toAggregateExpression())

  /** Weighted SpaceSaving — top items by summed long weight, the
    * ClickHouse `topKWeighted` analog (see [[ApproxTopKWeighted]]).
    */
  def approxTopKWeighted(item: Column, weight: Column,
                         k: Int = 3, capacity: Int = 64): Column =
    graftBridge.column(ApproxTopKWeighted(graftBridge.expression(item),
      graftBridge.expression(weight), k, capacity).toAggregateExpression())

  /** One-pass mergeable co-moment accumulator over a d-dim double-array
    * column: [n, Σx_i…, Σx_i·x_j (i≤j)…] — O(d²) state per group
    * regardless of row count (see [[CoMoment]]).
    */
  def coMoment(v: Column, d: Int): Column = {
    val dd = ArrayType(DoubleType)
    graftBridge.column(CoMoment(graftBridge.expression(v.cast(dd)), d)
      .toAggregateExpression())
  }

  /** Bounded-state distinct count saturating at n+1 — the ClickHouse
    * `uniqUpTo(N)` analog (see [[UniqUpTo]]): exact while distinct ≤ n,
    * O(n) state per group regardless of true cardinality.
    */
  def uniqUpTo(item: Column, n: Int = 100): Column =
    graftBridge.column(UniqUpTo(graftBridge.expression(item), n)
      .toAggregateExpression())

  /** Codegen'd most-frequent word k-gram `(gram, n)` of a text column —
    * single fused pass, count-desc/gram-asc tie rule (see [[TopNgram]]).
    */
  def topNgram(text: Column, k: Int): Column =
    graftBridge.column(TopNgram(graftBridge.expression(text), k))

  /** All-k dup stats `array<(n, n_distinct)>` for k = 1..maxK sharing one
    * tokenize+hash pass (see [[NgramDupProfile]]).
    */
  def ngramDupProfile(text: Column, maxK: Int): Column =
    graftBridge.column(NgramDupProfile(graftBridge.expression(text), maxK))

  /** Codegen'd 64-bit SimHash of a text column — map-side scalar
    * signature (see [[SimHash64]]).
    */
  def simHash64(text: Column): Column =
    graftBridge.column(SimHash64(graftBridge.expression(text)))

  /** Codegen'd 96x16 sign-random-projection band keys of a double-array
    * column — the LSH candidate key for embedding near-dup dedup.
    */
  def srpBandKeys(v: Column): Column = srpBandKeys(v, SrpBandKeys.Bands)

  /** Prefix variant: compute only the first `numBands` bands — for
    * consumers needing one coarse bucket (SimOps.lshBucket), not the full
    * near-dup candidate key.
    */
  def srpBandKeys(v: Column, numBands: Int): Column = {
    val dd = ArrayType(DoubleType)
    graftBridge.column(SrpBandKeys(graftBridge.expression(v.cast(dd)), numBands))
  }

  /** Corpus-sized variant: band WIDTH must grow with corpus size
    * (bits ≳ log₂ n — see [[SrpBandKeys.MaxBits]]); callers pass the width
    * they sized from their row count (dedup_embedding).
    */
  def srpBandKeys(v: Column, numBands: Int, numBits: Int): Column = {
    val dd = ArrayType(DoubleType)
    graftBridge.column(
      SrpBandKeys(graftBridge.expression(v.cast(dd)), numBands, numBits))
  }

  /** Codegen'd Unicode normalization of a text column — NFD + strip
    * combining marks + lowercase + whitespace collapse (see [[NormalizeText]]).
    */
  def normalizeText(text: Column): Column =
    graftBridge.column(NormalizeText(graftBridge.expression(text)))

  /** Codegen'd Jaro-Winkler similarity of two string columns — the
    * record-linkage score Spark lacks (see [[JaroWinkler]]).
    */
  def jaroWinkler(a: Column, b: Column): Column =
    graftBridge.column(JaroWinkler(
      graftBridge.expression(a), graftBridge.expression(b)))

  /** Codegen'd Z-order (Morton) value of two bigint key columns — the
    * multi-dimensional clustering key (see [[ZOrderValue]]).
    */
  def zorderValue(x: Column, y: Column): Column = {
    import org.apache.spark.sql.types.LongType
    graftBridge.column(ZOrderValue(
      graftBridge.expression(x.cast(LongType)),
      graftBridge.expression(y.cast(LongType))))
  }

  /** Squared Euclidean distance of two numeric-array columns — built-in
    * higher-order functions (codegen'd enough for index-build paths; the
    * per-pair hot path is cosineSim above).
    */
  def sqDist(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.aggregate(
      org.apache.spark.sql.functions.zip_with(a, b, (x, y) => (x - y) * (x - y)),
      org.apache.spark.sql.functions.lit(0.0), (acc, v) => acc + v)
}
