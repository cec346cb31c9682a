package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-11 optimization rewrites changed HOW several operators compute
  * (never WHAT): two-level salted/range-bucketed ranks in place of windows
  * partitioned on 3–5-value keys (guide §2.5 skew), value-domain bisection
  * for exact quantiles / weighted medians, basket-array pair expansion in
  * place of the posting self-join, and NULL-safe branch joins for
  * agg_distinct. Each test pins the shipped query bit-equal to the
  * superseded single-level formulation on the real fixture, plus synthetic
  * edge cases the fixture cannot exercise (NULL group keys / NULL counted
  * columns; every n mod 4 residue and n < buckets for the NTile algebra;
  * NULL, NaN and ±Inf ordering values for the bucketed ranks).
  */
class R11RewriteEquivalenceSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)

  test("window_rank salted two-level top-k equals the single window") {
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val direct = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        row_number().over(w).cast(LongType).as("rn"),
        rank().over(w).cast(LongType).as("rnk"),
        dense_rank().over(w).cast(LongType).as("drnk"),
        ntile(4).over(w).cast(LongType).as("quartile"))
      .filter(col("rn") <= 50)
      .orderBy("o_orderstatus", "rn")
    assert(rows(SparkEntry.queries("window_rank")(spark, sf)) == rows(direct))
  }

  test("BucketRank.ntileOf equals ntile() for every n mod 4 residue and n < 4") {
    import spark.implicits._
    // partitions of size 1..13 cover n < b, n mod 4 ∈ {0,1,2,3} and n = b
    val df = (1 to 13).flatMap(n => (1 to n).map(i => (n, i.toLong)))
      .toDF("grp", "x")
    val w = Window.partitionBy("grp").orderBy("x")
    val both = df
      .withColumn("n", count(lit(1)).over(Window.partitionBy("grp")))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .withColumn("direct", ntile(4).over(w).cast(LongType))
      .withColumn("alg", operators.BucketRank.ntileOf(col("rn"), col("n"), 4))
    assert(both.filter(col("direct") =!= col("alg")).count() == 0)
  }

  /** The single-window form each bucketed key replaced, on any sf dir. */
  private def windowDistributionDirect(dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("value", "event_id")
    Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("value"),
        ntile(4).over(w).cast(LongType).as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
      .orderBy("event_type", "event_id")
  }

  private def andersonDarlingDirect(dir: String): DataFrame = {
    val byDay = Window.partitionBy("day")
    val ord = Window.partitionBy("day").orderBy("value", "event_id")
    def phi(z: org.apache.spark.sql.Column) = {
      val x = abs(z) / sqrt(lit(2.0))
      val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
      val poly = ((((lit(1.061405429) * t + lit(-1.453152027)) * t
        + lit(1.421413741)) * t + lit(-0.284496736)) * t
        + lit(0.254829592)) * t
      val erfc = poly * exp(-x * x)
      when(z >= 0, lit(1.0) - erfc / 2).otherwise(erfc / 2)
    }
    Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("value"), col("event_id"))
      .withColumn("c",
        (col("value").cast(DecimalType(18, 2)) * 100).cast(LongType))
      .withColumn("n", count(lit(1)).over(byDay))
      .withColumn("svc", sum(col("c")).over(byDay))
      .withColumn("sq4", sum(col("c") * col("c")).over(byDay))
      .withColumn("mu",
        col("svc").cast(DoubleType) / (lit(100.0) * col("n")))
      .withColumn("sd", sqrt(
        (col("n").cast(DecimalType(38, 0)) * col("sq4")
          - col("svc").cast(DecimalType(38, 0)) * col("svc")).cast(DoubleType)
          / (lit(10000L).cast(DecimalType(38, 0)) * col("n")
            * (col("n") - 1)).cast(DoubleType)))
      .filter(col("n") > 7 && col("sd") > 0)
      .withColumn("i", row_number().over(ord))
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
  }

  private def weightedMedianDirect(dir: String): DataFrame = {
    val cum = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val part = Window.partitionBy("l_returnflag")
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_extendedprice"),
        floor(col("l_quantity")).as("w"))
      .withColumn("cum", sum("w").over(cum))
      .withColumn("tot", sum("w").over(part))
      .filter(lit(2L) * col("cum") >= col("tot"))
      .groupBy("l_returnflag")
      .agg(max("tot").as("total_w"),
        min("l_extendedprice").as("wmedian"))
      .orderBy("l_returnflag")
  }

  /** Each bucketed key, its fixture test's name, and its single-window
    * form. The adversarial pins compare `Row`s, whose equality holds NaN
    * equal to NaN.
    */
  private val bucketed = Seq(
    ("window_distribution", "bucketed rank equals the single window",
      windowDistributionDirect _),
    ("stat_anderson_darling", "bucketed rank + groupBy moments equal the window form",
      andersonDarlingDirect _),
    ("agg_weighted_median", "bisection equals the cumulative-window form",
      weightedMedianDirect _))

  /** A temp sf dir with the columns the bucketed keys read, holding what
    * the fixture never does: NULL, NaN and ±Inf ordering values (also in
    * groups with no finite value at all), an all-equal group, a hot group,
    * in lineitem group Z a NULL-price block that carries more than half
    * the weight, and NULL group keys: a NULL `event_type`, a NULL `ts`
    * (so a NULL day) and a NULL `l_returnflag`.
    */
  private lazy val adversarialDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bucketrank-").toString
    val special = Seq(None, Some(Double.NaN), Some(Double.PositiveInfinity),
      Some(Double.NegativeInfinity))
    val rnd = new scala.util.Random(7)
    def price(i: Int, base: Int) =
      if (i % 13 == 0) special(i / 13 % 4) else Some((base + rnd.nextInt(3000)) / 100.0)
    val events = (0 until 700).map { i =>
      val (typ, day, v) =
        if (i < 420) ("hot", 1 + i % 2, price(i, -1000))
        else if (i < 500) ("a", 3, price(i, -1000))
        else if (i < 540) ("eq", 4, Some(4.25))
        else if (i < 560) ("nf", 5, special(i % 4))
        else ("b", 1 + i % 3, price(i, -1000))
      (i.toLong, Option(java.sql.Timestamp.valueOf(f"2024-01-0$day%d ${i % 24}%02d:00:00")),
        Option(typ), v)
    } ++ (700 until 750).map { i =>
      val t = Option(java.sql.Timestamp.valueOf(f"2024-01-02 ${i % 24}%02d:00:00"))
      if (i < 730) (i.toLong, t, None, price(i, -1000))
      else (i.toLong, None, Some("b"), price(i, -1000))
    }
    events.toDF("event_id", "ts", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val lineitem = (0 until 600).map { i =>
      val w = Some((1 + i % 50).toDouble)
      if (i < 400) ("R", price(i, 90000), w)
      else if (i < 460) ("A", price(i, 1000), if (i == 401) None else w)
      else if (i < 490) ("N", Some(1234.5), w)
      else if (i < 502) ("X", special(i % 4), w)
      else if (i < 527) ("Z", None, Some(10.0))
      else if (i < 560) ("Z", price(i, 500), Some(1.0))
      else (null, price(i, 2000), w)
    }
    lineitem.toDF("l_returnflag", "l_extendedprice", "l_quantity")
      .write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  for ((key, fixtureName, direct) <- bucketed) {
    test(s"$key $fixtureName") {
      assert(rows(SparkEntry.queries(key)(spark, sf)) == rows(direct(sf)))
    }
    test(s"$key keeps NULL, NaN and ±Inf rows like the single window") {
      val got = SparkEntry.queries(key)(spark, adversarialDir).collect().toSeq
      val want = direct(adversarialDir).collect().toSeq
      assert(want.nonEmpty)
      assert(got == want)
    }
  }

  test("market_basket_lift basket arrays equal the posting self-join") {
    val li = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val partCnt = li.groupBy("pk").agg(count(lit(1)).as("c"))
    val nOrders = li.agg(countDistinct("ok").as("n_orders"))
    val pairs = li.select(col("ok"), col("pk").as("p1"))
      .join(li.select(col("ok"), col("pk").as("p2")), Seq("ok"))
      .filter(col("p1") < col("p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("co"))
      .filter(col("co") >= 2)
    val direct = pairs
      .join(broadcast(partCnt.select(col("pk").as("p1"), col("c").as("c1"))), Seq("p1"))
      .join(broadcast(partCnt.select(col("pk").as("p2"), col("c").as("c2"))), Seq("p2"))
      .crossJoin(broadcast(nOrders))
      .select(col("p1"), col("p2"), col("co"), col("c1"), col("c2"),
        round(col("co").cast(DoubleType) / col("n_orders"), 6).as("support"),
        round(col("co").cast(DoubleType) / col("c1"), 6).as("confidence"),
        round(col("co").cast(DoubleType) * col("n_orders")
          / (col("c1") * col("c2")), 6).as("lift"))
      .orderBy("p1", "p2")
    assert(rows(SparkEntry.queries("market_basket_lift")(spark, sf)) ==
      rows(direct))
  }

  test("agg_distinct branch form equals countDistinct, on the fixture") {
    val direct = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(countDistinct("l_suppkey").as("n_supp"),
        countDistinct("l_partkey").as("n_part"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
    assert(rows(SparkEntry.queries("agg_distinct")(spark, sf)) == rows(direct))
  }

  test("agg_distinct branch form equals countDistinct under NULL keys and values") {
    import spark.implicits._
    // NULL group key (countDistinct groups NULL like any key) and NULL
    // counted values (countDistinct EXCLUDES them; one group is all-null,
    // which countDistinct counts as 0) — ADVICE r10 #1's exact scenario.
    val df = Seq[(Option[String], Option[Long], Option[Long])](
      (Some("A"), Some(1L), Some(10L)), (Some("A"), Some(1L), None),
      (Some("A"), None, Some(11L)), (None, Some(2L), Some(12L)),
      (None, None, None), (Some("B"), None, None),
      (Some("B"), None, None))
      .toDF("l_returnflag", "l_suppkey", "l_partkey")
    // the shipped branch construction, verbatim (RelationalOps agg_distinct)
    val base = df.groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    def dcount(c: String, as: String) =
      df.select(col("l_returnflag"), col(c))
        .filter(col(c).isNotNull).distinct()
        .groupBy("l_returnflag").agg(count(lit(1)).as(as))
        .withColumnRenamed("l_returnflag", s"${as}_rf")
    val branch = base
      .join(dcount("l_suppkey", "n_supp"),
        col("l_returnflag") <=> col("n_supp_rf"), "left")
      .join(dcount("l_partkey", "n_part"),
        col("l_returnflag") <=> col("n_part_rf"), "left")
      .select(col("l_returnflag"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"),
        coalesce(col("n_part"), lit(0L)).as("n_part"),
        col("n"))
      .orderBy("l_returnflag")
    val direct = df.groupBy("l_returnflag")
      .agg(countDistinct("l_suppkey").as("n_supp"),
        countDistinct("l_partkey").as("n_part"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
    assert(rows(branch) == rows(direct))
  }

  test("two-level rank is exact under heavy value ties across buckets") {
    import spark.implicits._
    // 400 rows over only 7 distinct values forces every bucket boundary to
    // land inside a tied block; the bucketed rank must still produce the
    // exact per-(grp) quartile/pr/cd the single window gives, because the
    // bucket id is a pure function of the value (ties never split).
    val df = (1 to 400).map(i => ("g" + (i % 2), i.toLong, (i % 7).toDouble))
      .toDF("event_type", "event_id", "value")
    val nb = 16
    val mm = df.groupBy("event_type")
      .agg(min("value").as("mn"), max("value").as("mx"), count(lit(1)).as("n"))
    val b = df.join(broadcast(mm), Seq("event_type"))
      .withColumn("bkt", operators.BucketRank.bucketOf(col("value"), col("mn"), col("mx"), nb))
    val wB = Window.partitionBy("event_type").orderBy("bkt")
    val off = b.groupBy("event_type", "bkt").agg(count(lit(1)).as("bc"))
      .withColumn("off", sum("bc").over(wB) - col("bc"))
      .select(col("event_type").as("o_et"), col("bkt").as("o_bkt"), col("off"))
    val wL = Window.partitionBy("event_type", "bkt").orderBy("value", "event_id")
    val two = b.join(broadcast(off),
        col("event_type") === col("o_et") && col("bkt") === col("o_bkt"))
      .withColumn("rn", col("off") + row_number().over(wL))
      .select(col("event_type"), col("event_id"), col("rn"))
    val w = Window.partitionBy("event_type").orderBy("value", "event_id")
    val one = df.select(col("event_type"), col("event_id"),
      row_number().over(w).cast(LongType).as("rn"))
    assert(rows(two.orderBy("event_type", "event_id")) ==
      rows(one.orderBy("event_type", "event_id")))
  }
}
