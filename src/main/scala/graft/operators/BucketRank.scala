package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Shared machinery for TWO-LEVEL (value-domain-bucketed) rank and quantile
  * plans (guide §2.5 — skew): several declared operators partition a window
  * by a 3–5-value key (l_returnflag, o_orderstatus, event_type, day), so the
  * single-level WindowExec sorts a constant fraction of the corpus on ONE
  * reducer at any scale — the classic skew wall. The two-level form buckets
  * rows by the ordering value, ranks each (group, bucket) slice locally, and
  * converts local ranks to global ones with the lower buckets' row-count
  * offsets (a bucket-level running sum — metadata-sized).
  *
  * Correctness argument, used by every caller and pinned in
  * R11RewriteEquivalenceSpec:
  *  - `bucketOf` is a PURE function of the ordering value and MONOTONE
  *    non-decreasing in it, so (a) equal values never split across buckets
  *    and (b) bucket order refines the value order: every row of bucket k
  *    precedes every row of bucket k+1 in the window's own ordering.
  *  - Therefore global row_number = (rows in lower buckets) + local
  *    row_number, exactly, for any total ordering whose FIRST key is the
  *    bucketed value. Tie-broken orderings (value, unique_id) stay total;
  *    value-only orderings give the same value-at-rank (the sorted multiset
  *    is unique even when row_number among ties is not).
  *
  * Bucket balance only affects load, never results: a degenerate
  * distribution (all values equal) collapses to one bucket, which is the
  * single-level plan again — correct, just unbalanced.
  */
object BucketRank {
  /** Scale-adaptive bucket count: at least the session's parallelism (so the
    * local[n] harness and a real cluster both spread each hot group over all
    * cores), floored at 32 so the 8-core driver bench still demonstrates the
    * two-level shape. NOT a local[32] constant — it keys off the session.
    */
  def nBuckets(s: SparkSession): Int =
    math.max(32, s.sparkContext.defaultParallelism)

  val NullBucket: Long = -1L

  /** `rows` with their group's `stats` columns, joined on `key` NULL-safe
    * (`<=>`): the single-window forms keep a NULL key as a partition of its
    * own, so its rows must not drop out here. The callers' later joins on
    * the group key use `<=>` for the same reason.
    */
  def joinGroup(rows: DataFrame, stats: DataFrame, key: String): DataFrame =
    rows.join(broadcast(stats.withColumnRenamed(key, "g_key")), col(key) <=> col("g_key"))
      .drop("g_key")

  /** `v` if finite, else NULL: callers take `mn`/`mx` over it, since one
    * NaN or infinity in the range makes `width_bucket` NULL for the group.
    */
  def finite(v: Column): Column = when(!isnan(v) && abs(v) =!= Double.PositiveInfinity, v)

  /** Bucket id of `v`: uniform-width within the group's finite [mn, mx]
    * (width_bucket — codegen arithmetic, 1..nb, nb+1 for v == mx, 1 when
    * mn == mx). TOTAL and monotone in the windows' ascending order (NULLS
    * FIRST, NaN above +Inf): NULL → [[NullBucket]], −Inf → 0, +Inf → nb+2,
    * NaN → nb+3, so no row drops out of the bucket-keyed joins.
    */
  def bucketOf(v: Column, mn: Column, mx: Column, nb: Int): Column =
    when(v.isNull, NullBucket).when(isnan(v), nb + 3L)
      .when(v === Double.NegativeInfinity, 0L).when(v === Double.PositiveInfinity, nb + 2L)
      .when(mn === mx, 1L).otherwise(width_bucket(v, mn, mx, lit(nb)))

  /** NTile(b) bucket of the row with global row_number `rn` (1-based) in a
    * partition of `n` rows — Spark's own NTile algebra (the first n % b
    * buckets take ⌈n/b⌉ rows, the remaining take ⌊n/b⌋) as codegen column
    * arithmetic, so a two-level plan can serve ntile from (rn, n) without a
    * full-partition window. The divisions are double-exact for n < 2^52.
    * When q = ⌊n/b⌋ = 0 (n < b) the first branch always fires (rn ≤ n = r),
    * so the q-division in the otherwise branch is never taken.
    */
  def ntileOf(rn: Column, n: Column, b: Int): Column = {
    val q = floor(n / lit(b))
    val r = n - q * b
    when(rn <= r * (q + 1), ceil(rn.cast(DoubleType) / (q + 1).cast(DoubleType)))
      .otherwise(r + ceil((rn - r * (q + 1)).cast(DoubleType) / q.cast(DoubleType)))
      .cast(LongType)
  }
}
