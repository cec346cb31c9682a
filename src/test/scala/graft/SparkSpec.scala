package graft

import java.util.Properties
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Shared local SparkSession for all specs — one JVM-wide session keeps the
  * suite fast (Spark startup ≈ 5 s; reuse across suites via getOrCreate).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** Every node of the plan that ran (AQE's final plan, stages included). */
  def executedNodes(df: DataFrame): Seq[SparkPlan] =
    SparkSpec.Plans.collect(df.queryExecution.executedPlan) { case p => p }

  /** Runs `body` with the session confs set, then restores them (unset
    * stays unset).
    */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val before = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The local properties of every Spark job started while `body` runs, on
    * any thread (a streaming query starts its jobs on its own), and what
    * `body` returned. A marker job run after `body` shows when the listener
    * bus has delivered them all: it delivers in order.
    */
  def jobsStarted[T](body: => T): (Seq[Properties], T) = {
    val sc = spark.sparkContext
    val marker = "spark-spec-marker"
    val started = new ConcurrentLinkedQueue[Properties]
    val delivered = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties).getOrElse(new Properties)
        if (p.getProperty("spark.jobGroup.id") == marker) delivered.countDown()
        else started.add(p)
      }
    }
    sc.addSparkListener(listener)
    val result = try {
      val r = body
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(delivered.await(60, TimeUnit.SECONDS), "the marker job never reached the listener")
      r
    } finally sc.removeSparkListener(listener)
    (started.asScala.toSeq, result)
  }

  /** The conf above which a file reader lists its paths in a Spark job. */
  val listingThreshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"

  /** The number of Spark jobs `body` starts to list input files, and what
    * it returned. A file reader runs one when it is given more paths or
    * subdirectories than `listingThreshold`.
    */
  def listingJobs[T](body: => T): (Int, T) = {
    val (jobs, result) = jobsStarted(body)
    (jobs.count(p =>
      Option(p.getProperty("spark.job.description")).exists(_.startsWith("Listing leaf files"))),
      result)
  }
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
