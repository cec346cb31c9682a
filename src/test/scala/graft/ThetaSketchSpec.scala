package graft

import graft.functions.api._
import org.apache.spark.sql.functions._

/** Theta sketch contracts, pinned against Spark's DataSketches built-ins
  * (`theta_sketch_agg`, `theta_union_agg`, `theta_intersection`,
  * `theta_union`, `theta_sketch_estimate`; lgNomEntries 8/10/12 is
  * k = 256/1024/4096): exact while distinct ≤ k, merge/layout
  * determinism, the approximate regime's error bound, and the
  * intersection algebra HLL cannot do — each on constructed sets with
  * known cardinalities.
  */
class ThetaSketchSpec extends SparkSpec {
  import spark.implicits._

  private def bytes(df: org.apache.spark.sql.DataFrame): Array[Byte] =
    df.collect().head.getAs[Array[Byte]](0)

  /** `theta_sketch_estimate` of serialized sketch bytes. */
  private def estimate(sketch: Array[Byte]): Double =
    Seq(sketch).toDF("sk").select(theta_sketch_estimate(col("sk")))
      .collect().head.getLong(0).toDouble

  test("exact regime: estimates equal countDistinct per group") {
    val est = Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .groupBy("d").agg(
        theta_sketch_estimate(theta_sketch_agg(col("user_id"), 12)).as("est"))
    val exact = Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .groupBy("d").agg(countDistinct("user_id").as("n"))
    val joined = est.join(exact, "d").collect()
    assert(joined.nonEmpty)
    joined.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"day ${r.get(0)}: sketch must be exact under k"))
  }

  test("agg_theta_intersect matches the exact overlap twin in-sample") {
    val sk = SparkEntry.queries("agg_theta_intersect")(spark, sf)
      .collect().map(r => r.get(0).toString ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val exact = SparkEntry.queries("event_day_overlap")(spark, sf)
      .collect().map(r => r.get(0).toString ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(sk.keySet == exact.keySet)
    sk.foreach { case (d, t) => assert(t == exact(d),
      s"$d: sketch overlap must equal the exact self-join under k") }
  }

  test("merge is layout-independent: byte-equal across partitionings") {
    val vals = (1L to 5000L).toDF("v")
    val one = bytes(vals.coalesce(1).agg(theta_sketch_agg(col("v"), 8)))
    val many = bytes(vals.repartition(32).agg(theta_sketch_agg(col("v"), 8)))
    assert(java.util.Arrays.equals(one, many),
      "sketch state must be a pure function of the input set")
    // two-level rollup: union of group partials == one-shot sketch
    val partials = vals.withColumn("g", pmod(col("v"), lit(7)))
      .groupBy("g").agg(theta_sketch_agg(col("v"), 8).as("sk"))
    val rolled = bytes(partials.agg(theta_union_agg(col("sk"), 8)))
    assert(java.util.Arrays.equals(one, rolled),
      "two-level merge must reach the identical state")
  }

  test("approximate regime: union/distinct error within bounds") {
    // 50k distinct values through a k=256 sketch: RSE ≈ 1/√k ≈ 6.3%;
    // the hash is fixed, so this is a deterministic regression pin — the
    // 20% band is ~3σ headroom, failure means the estimator broke.
    val n = 50000L
    val est = estimate(
      bytes((1L to n).toDF("v").agg(theta_sketch_agg(col("v"), 8))))
    assert(math.abs(est - n) / n < 0.20, s"got $est for true $n")
  }

  test("approximate intersection tracks true overlap") {
    // A = 1..30k, B = 15k+1..45k, |A∩B| = 15k, through k=1024 sketches
    // (RSE amplified for intersections by |A∪B|/|A∩B| = 3: ≈ 9%; assert
    // a deterministic 30% band).
    val a = bytes((1L to 30000L).toDF("v").agg(theta_sketch_agg(col("v"), 10)))
    val b = bytes((15001L to 45000L).toDF("v").agg(theta_sketch_agg(col("v"), 10)))
    val inter = estimate(
      bytes(Seq((a, b)).toDF("a", "b")
        .select(theta_intersection(col("a"), col("b")))))
    assert(math.abs(inter - 15000.0) / 15000.0 < 0.30, s"got $inter")
    // inclusion-exclusion consistency of the pairwise algebra
    val uni = estimate(
      bytes(Seq((a, b)).toDF("a", "b")
        .select(theta_union(col("a"), col("b"), 10))))
    assert(math.abs(uni - 45000.0) / 45000.0 < 0.20, s"union got $uni")
  }

  test("uniqUpTo: exact under n, saturates at n+1, layout-independent") {
    val vals = (1L to 300L).toDF("v")
    def u(df: org.apache.spark.sql.DataFrame, n: Int): Long =
      df.agg(uniqUpTo(col("v"), n)).collect().head.getLong(0)
    assert(u(vals.filter(col("v") <= 40), 50) == 40L, "exact while under n")
    assert(u(vals, 50) == 51L, "must saturate at n+1")
    assert(u(vals.repartition(32), 50) == 51L &&
      u(vals.filter(col("v") <= 40).repartition(32), 50) == 40L,
      "capped-union merge must not change the answer")
    // duplicates never inflate the count
    assert(u(vals.union(vals).filter(col("v") <= 40), 50) == 40L)
    // SQL registration
    vals.createOrReplaceTempView("uut_v")
    assert(spark.sql("SELECT uniq_up_to(v, 50) FROM uut_v")
      .collect().head.getLong(0) == 51L)
  }

  test("SQL surface: Spark's theta built-ins in a graft session") {
    Tables.events(spark, sf).createOrReplaceTempView("theta_ev")
    val est = spark.sql(
      """SELECT theta_sketch_estimate(theta_sketch_agg(user_id, 12)) AS est
        |FROM theta_ev""".stripMargin).collect().head.getLong(0)
    val exact = Tables.events(spark, sf)
      .agg(countDistinct("user_id")).collect().head.getLong(0)
    assert(est == exact, "SQL path must agree with the exact count under k")
    // the sketch families mix: theta_union reads theta_sketch_agg's bytes
    val mixed = spark.sql(
      """SELECT theta_sketch_estimate(theta_union(theta_sketch_agg(x), theta_sketch_agg(x)))
        |FROM VALUES (1),(2),(3) AS t(x)""".stripMargin).collect().head.getLong(0)
    assert(mixed == 3L, s"union of a 3-value sketch with itself estimated $mixed")
  }
}
