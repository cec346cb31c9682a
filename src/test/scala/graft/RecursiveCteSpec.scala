package graft

import scala.collection.mutable.ArrayBuffer

import graft.plans.RowLocalUnionLoopExec
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.UnionLoopExec
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Row-local `WITH RECURSIVE` (plans/RowLocalUnionLoop): the fused pass
  * returns what a brute-force chain expansion returns, and what Spark's
  * own `UnionLoopExec` returns on the same SQL; Spark's level and row
  * limits fail and pass at the same bounds on both plans; and every
  * recursion that is not row-local still plans as `UnionLoopExec`.
  *
  * A recursion gets Spark's loop by adding `AND floor(rand()) = 0` to its
  * WHERE: always true, but non-deterministic, so the fused plan declines
  * it. (`rand() >= 0` would not do: the optimizer folds it to true.)
  */
class RecursiveCteSpec extends SparkSpec {

  private def fused(df: DataFrame) = executedNodes(df).exists(_.isInstanceOf[RowLocalUnionLoopExec])
  private def sparkLoop(df: DataFrame) = executedNodes(df).exists(_.isInstanceOf[UnionLoopExec])

  private val viaSparkLoop = " AND floor(rand()) = 0"

  private type Out = (Long, Option[Long], Int)

  private def rows(df: DataFrame): Seq[Out] = df.collect().toSeq.map { r =>
    (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getInt(2))
  }.sorted

  /** A view of (id, k) rows, spread over three partitions. */
  private def view(name: String, data: Seq[(Long, Option[Long])],
      kNullable: Boolean = true): Unit = {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("k", LongType, nullable = kNullable)))
    val rs = data.map { case (id, k) => Row(id, k.orNull) }
    spark.createDataFrame(spark.sparkContext.parallelize(rs, 3), schema)
      .createOrReplaceTempView(name)
  }

  /** Each anchor (id, k) row at depth 0, then (id, step(k), depth + 1)
    * while `cond` is TRUE (a NULL condition ends the chain). */
  private def walk(from: String, step: String, cond: String, maxLevel: String = ""): String =
    s"""WITH RECURSIVE r(id, k, depth)$maxLevel AS (
       |  SELECT id, k, 0 FROM $from
       |  UNION ALL
       |  SELECT id, $step, depth + 1 FROM r WHERE $cond
       |)
       |SELECT id, k, depth FROM r""".stripMargin

  private def brute(anchor: Seq[(Long, Option[Long])], step: Option[Long] => Option[Long],
      cond: (Option[Long], Int) => Boolean): Seq[Out] =
    anchor.flatMap { case (id, k0) =>
      val chain = ArrayBuffer((k0, 0))
      while (cond(chain.last._1, chain.last._2))
        chain += ((step(chain.last._1), chain.last._2 + 1))
      chain.map { case (k, d) => (id, k, d) }
    }.sorted

  private val halve: Option[Long] => Option[Long] = _.map(_ / 2)
  private val aboveOne: (Option[Long], Int) => Boolean = (k, _) => k.exists(_ > 1)
  private val nullKeys = Seq[(Long, Option[Long])](
    1L -> Some(37L), 2L -> None, 3L -> Some(1L), 4L -> None, 5L -> Some(1000L), 6L -> Some(2L))

  /** Fused == brute force == Spark's loop on the same SQL. */
  private def equivalent(sql: String => String, want: Seq[Out]): Unit = {
    val df = spark.sql(sql(""))
    val got = rows(df)
    assert(fused(df), df.queryExecution.executedPlan.toString)
    assert(got == want)
    val loop = spark.sql(sql(viaSparkLoop))
    assert(rows(loop) == want)
    assert(sparkLoop(loop), loop.queryExecution.executedPlan.toString)
  }

  test("equivalence: anchors with NULL keys end their chain at once") {
    view("rc_nulls", nullKeys)
    equivalent(x => walk("rc_nulls", "k DIV 2", "k > 1" + x), brute(nullKeys, halve, aboveOne))
  }

  test("equivalence: a step that yields NULL mid-chain carries it on") {
    // k is NOT NULL in the anchor: only the step brings NULL into the chain
    val anchor = Seq[(Long, Option[Long])](1L -> Some(6L), 2L -> Some(2L), 3L -> Some(4L))
    view("rc_mid", anchor, kNullable = false)
    val want = brute(anchor, {
      case Some(3L) => None
      case k => k.map(_ - 1)
    }, (k, d) => d < 6 && k.forall(_ > 0))
    equivalent(x => walk("rc_mid", "CASE WHEN k = 3 THEN NULL ELSE k - 1 END",
      "depth < 6 AND (k IS NULL OR k > 0)" + x), want)
  }

  test("equivalence: duplicate anchor rows each walk their own chain") {
    val anchor = Seq.fill(3)(1L -> Some(20L)) ++ Seq.fill(2)(2L -> Some(5L))
    view("rc_dups", anchor)
    equivalent(x => walk("rc_dups", "k DIV 2", "k > 1" + x), brute(anchor, halve, aboveOne))
  }

  test("equivalence: an empty anchor gives no rows") {
    view("rc_some", nullKeys)
    equivalent(x => walk("(SELECT * FROM rc_some WHERE id < 0)", "k DIV 2", "k > 1" + x), Nil)
  }

  test("equivalence: a step that never fires returns the anchor") {
    view("rc_never", nullKeys)
    equivalent(x => walk("rc_never", "k DIV 2", "k > 1000000" + x),
      brute(nullKeys, halve, (_, _) => false))
  }

  private def fails(condition: String)(body: => Any): Unit = {
    val e = intercept[Exception](body)
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists {
      case s: SparkThrowable => s.getCondition == condition
      case _ => false
    }, e)
  }

  private val rowLimit = "spark.sql.cteRecursionRowLimit"

  /** Three chains counting k up from 0 to `deepest`: 3 × (deepest + 1) rows. */
  private def counting(deepest: Int, x: String, maxLevel: String = ""): String = {
    view("rc_count", Seq(1L -> Some(0L), 2L -> Some(0L), 3L -> Some(0L)))
    walk("rc_count", "k + 1", s"k < $deepest" + x, maxLevel)
  }

  for ((plan, x) <- Seq("fused" -> "", "Spark's loop" -> viaSparkLoop)) {
    test(s"level limit ($plan): depth n-1 passes MAX RECURSION LEVEL n, depth n fails") {
      val df = spark.sql(counting(4, x, " MAX RECURSION LEVEL 5"))
      assert(df.count() == 15)
      assert(if (x.isEmpty) fused(df) else sparkLoop(df))
      fails("RECURSION_LEVEL_LIMIT_EXCEEDED") {
        spark.sql(counting(5, x, " MAX RECURSION LEVEL 5")).collect()
      }
    }

    test(s"row limit ($plan): a limit equal to the total fails, total + 1 passes") {
      withConf(rowLimit -> "15") {
        fails("RECURSION_ROW_LIMIT_EXCEEDED")(spark.sql(counting(4, x)).collect())
      }
      withConf(rowLimit -> "16")(assert(spark.sql(counting(4, x)).count() == 15))
    }

    test(s"both limits ($plan): the one the loop meets first fails the query") {
      // depths 0..5, 3 rows each: the running total reaches 10 at depth 3,
      // before depth 5 breaks level 5; it reaches 18 only at depth 5, where
      // the level check comes first
      withConf(rowLimit -> "10") {
        fails("RECURSION_ROW_LIMIT_EXCEEDED") {
          spark.sql(counting(5, x, " MAX RECURSION LEVEL 5")).collect()
        }
      }
      withConf(rowLimit -> "18") {
        fails("RECURSION_LEVEL_LIMIT_EXCEEDED") {
          spark.sql(counting(5, x, " MAX RECURSION LEVEL 5")).collect()
        }
      }
    }
  }

  test("level limit -1: the row limit still stops a chain that never ends") {
    withConf("spark.sql.cteRecursionLevelLimit" -> "-1", rowLimit -> "1000") {
      fails("RECURSION_ROW_LIMIT_EXCEEDED")(spark.sql(counting(Int.MaxValue, "")).collect())
    }
  }

  test("decline: a step that joins another view keeps Spark's loop") {
    view("rc_join", nullKeys)
    view("rc_ids", nullKeys)
    val df = spark.sql(
      """WITH RECURSIVE r(id, k, depth) AS (
        |  SELECT id, k, 0 FROM rc_join
        |  UNION ALL
        |  SELECT r.id, r.k DIV 2, r.depth + 1 FROM r JOIN rc_ids ON r.id = rc_ids.id
        |  WHERE r.k > 1
        |)
        |SELECT id, k, depth FROM r""".stripMargin)
    assert(rows(df) == brute(nullKeys, halve, aboveOne))
    assert(sparkLoop(df) && !fused(df), df.queryExecution.executedPlan.toString)
  }

  test("decline: a recursion under LIMIT keeps Spark's loop") {
    view("rc_limit", nullKeys)
    val df = spark.sql(walk("rc_limit", "k DIV 2", "k > 1") + " LIMIT 1000")
    assert(rows(df) == brute(nullKeys, halve, aboveOne))
    assert(sparkLoop(df) && !fused(df), df.queryExecution.executedPlan.toString)
  }

  test("decline: a step using rand() keeps Spark's loop") {
    view("rc_rand", nullKeys)
    val df = spark.sql(walk("rc_rand", "k DIV 2", "k > 1" + viaSparkLoop))
    assert(rows(df) == brute(nullKeys, halve, aboveOne))
    assert(sparkLoop(df) && !fused(df), df.queryExecution.executedPlan.toString)
  }
}
