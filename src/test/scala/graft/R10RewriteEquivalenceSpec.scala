package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-10 optimization rewrites changed HOW several operators compute
  * (never WHAT): grouping-set pre-aggregation, order-statistics quantiles,
  * and argmax-via-min_by/max_by in place of rank-1 windows. Each test pins
  * the shipped query bit-equal to the superseded formulation on the real
  * fixture, so a future regression in the rewrite shows up as a value
  * diff here before it reaches the driver's oracle gate.
  */
class R10RewriteEquivalenceSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)

  test("agg_cube pre-aggregated cells equal the direct cube over raw rows") {
    val direct = Tables.lineitem(spark, sf)
      .cube("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast(DoubleType).as("sum_qty"),
        count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("sum_qty"), col("n"))
      .orderBy("flag", "status")
    assert(rows(SparkEntry.queries("agg_cube")(spark, sf)) == rows(direct))
  }

  private val cutPs = Seq(0.25, 0.5, 0.75, 0.95)

  private def quantilesDirect(dir: String): DataFrame = {
    val cuts = array(cutPs.map(lit): _*)
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(percentile(col("l_extendedprice"), cuts).as("qs"))
      .select(col("l_returnflag"),
        round(element_at(col("qs"), 1), 4).as("p25"),
        round(element_at(col("qs"), 2), 4).as("p50"),
        round(element_at(col("qs"), 3), 4).as("p75"),
        round(element_at(col("qs"), 4), 4).as("p95"))
      .orderBy("l_returnflag")
  }

  test("agg_quantiles_multi order-statistics form equals the percentile aggregate") {
    assert(rows(SparkEntry.queries("agg_quantiles_multi")(spark, sf)) ==
      rows(quantilesDirect(sf)))
  }

  test("agg_quantiles_multi equals the percentile aggregate when a cut's two ranks straddle buckets") {
    import spark.implicits._
    // group C: 98 distinct prices 0..97, so p·(n−1) is fractional for three
    // cuts, plus a +Inf row (rank 98, past every cut's ceiling rank) and a
    // NULL row (ignored by both forms); group D: 2-dp prices with ties;
    // a NULL flag: its own group, as in the percentile aggregate
    val rnd = new scala.util.Random(3)
    val c = (0 until 98).map(v => ("C", Option(v.toDouble))) ++
      Seq(("C", Some(Double.PositiveInfinity)), ("C", None))
    val d = (0 until 57).map(_ => ("D", Option(rnd.nextInt(400) / 4.0)))
    val nullFlag = (0 until 31).map(v => (null: String, Option(v * 2.5)))
    val dir = java.nio.file.Files.createTempDirectory("graft-qmulti-").toString
    (c ++ d ++ nullFlag).toDF("l_returnflag", "l_extendedprice")
      .write.parquet(s"$dir/lineitem.parquet")
    // premise: some cut's floor and ceiling ranks fall in different buckets
    val nb = operators.BucketRank.nBuckets(spark)
    val finite = (0 until 98).map(_.toDouble)
    val bucket = (v: Double) => Seq(v).toDF("v")
      .select(operators.BucketRank.bucketOf(col("v"), lit(finite.min),
        lit(finite.max), nb)).head().getLong(0)
    val n = c.count(_._2.isDefined)
    assert(cutPs.exists { p =>
      val pos = p * (n - 1)
      pos.ceil.toInt < finite.size &&
        bucket(finite(pos.floor.toInt)) != bucket(finite(pos.ceil.toInt))
    })
    assert(cutPs.forall(p => (p * (n - 1)).ceil < n - 1), "a cut reaches the +Inf row")
    assert(rows(SparkEntry.queries("agg_quantiles_multi")(spark, dir)) ==
      rows(quantilesDirect(dir)))
  }

  test("replace_by_key max_by argmax equals the rank-1 window form") {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts").desc, col("event_id").desc)
    val direct = Tables.events(spark, sf)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_type", "event_id", "ts", "value")
      .orderBy("user_id", "event_type")
    assert(rows(SparkEntry.queries("replace_by_key")(spark, sf)) == rows(direct))
  }

  test("event_attribution min_by/max_by ends equal the two-window form") {
    val e = Tables.events(spark, sf)
      .select("user_id", "event_type", "ts", "event_id")
    val firstPurchase = e.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min("ts").as("pt"))
    val pre = e.join(firstPurchase, "user_id").filter(col("ts") < col("pt"))
    val wAsc = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    val wDesc = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    val touched = pre
      .withColumn("rn_f", row_number().over(wAsc))
      .withColumn("rn_l", row_number().over(wDesc))
    val ft = touched.filter(col("rn_f") === 1)
      .select(col("user_id"), col("event_type").as("first_touch"))
    val lt = touched.filter(col("rn_l") === 1)
      .select(col("user_id"), col("event_type").as("last_touch"))
    val direct = ft.join(lt, "user_id")
      .groupBy("first_touch", "last_touch")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("first_touch", "last_touch")
    assert(rows(SparkEntry.queries("event_attribution")(spark, sf)) == rows(direct))
  }

  test("agg_distinct per-column dedup branches equal the multi-distinct aggregate") {
    val direct = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
    assert(rows(SparkEntry.queries("agg_distinct")(spark, sf)) == rows(direct))
  }

  test("min_by on (-score, key) equals the (score DESC, key ASC) rank-1 window on ties") {
    // synthetic frame with engineered score ties (incl. negatives and 0.0)
    // so the tie-break path of the naive-bayes/lsh/ivf rewrites is exercised
    import spark.implicits._
    val df = Seq(
      (1L, "a", -0.5), (1L, "b", -0.5), (1L, "c", -1.0),
      (2L, "x", 0.0), (2L, "y", 0.0),
      (3L, "m", 2.5), (3L, "n", -2.5)).toDF("id", "k", "score")
    val w = Window.partitionBy("id").orderBy(col("score").desc, col("k"))
    val viaWindow = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select("id", "k", "score").orderBy("id")
    val viaAgg = df.groupBy("id")
      .agg(min_by(struct(col("k"), col("score")),
        struct(-col("score"), col("k"))).as("top"))
      .select(col("id"), col("top.k").as("k"), col("top.score").as("score"))
      .orderBy("id")
    assert(rows(viaAgg) == rows(viaWindow))
  }
}
