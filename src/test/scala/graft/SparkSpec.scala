package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs — one JVM-wide session keeps the
  * suite fast (Spark startup ≈ 5 s; reuse across suites via getOrCreate).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** Every node of the plan that ran (AQE's final plan, stages included). */
  def executedNodes(df: DataFrame): Seq[SparkPlan] =
    SparkSpec.Plans.collect(df.queryExecution.executedPlan) { case p => p }
}

object SparkSpec {
  private object Plans extends AdaptiveSparkPlanHelper

  lazy val session: SparkSession = {
    val s = GraftSession.builder("4")
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
