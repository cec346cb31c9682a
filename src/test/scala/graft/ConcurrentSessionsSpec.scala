package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** Concurrent-SESSIONS hammer for the JVM-global shared state (VERDICT r7
  * ask #6, the sibling of AsOfJoinExecSpec's impl race test): `OpCache`'s
  * synchronized memo (the IVF index build runs under its `once`), Spark's
  * shared cache behind `OpCache.cached`, and `join_bucketed`'s
  * managed-catalog delete-if-exists/create dance are singletons the
  * single-session driver protocol never stresses. Here two
  * `spark.newSession()` siblings (own SessionState, shared SparkContext +
  * external catalog — the library-embedded multi-tenant shape) drive the
  * cache-building keys CONCURRENTLY from a COLD cache (fresh temp copies
  * of the data dir mint fresh cache keys, so the creation races actually
  * run), and every result must equal the serial single-session truth
  * computed on an identical second copy.
  */
class ConcurrentSessionsSpec extends SparkSpec {

  private val keys = Seq("join_bucketed", "sim_topk_ivf", "ml_kmeans")

  private def copyDir(tag: String): String = {
    val dst = java.nio.file.Files.createTempDirectory(s"graft-sess-$tag-").toString
    import scala.sys.process._
    require(Seq("cp", "-r", sf + "/.", dst).! == 0, "fixture copy failed")
    dst
  }

  private def run(s: org.apache.spark.sql.SparkSession, key: String,
                  dir: String): Seq[Seq[Any]] =
    SparkEntry.queries(key)(s, dir).collect().toSeq.map(_.toSeq)

  test("two sessions, cold caches: bucketed-table build, IVF index, k-means race cleanly") {
    val dirHammer = copyDir("hammer")
    val dirTruth = copyDir("truth")
    val truth = keys.map(k => k -> run(spark, k, dirTruth)).toMap
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    val futures = for {
      s <- Seq(s1, s2)
      k <- keys
      i <- 1 to 3
    } yield Future((k, i, run(s, k, dirHammer)))
    val results = Await.result(Future.sequence(futures), 600.seconds)
    results.foreach { case (k, i, rows) =>
      assert(rows == truth(k),
        s"$k (iteration $i) diverged from the serial single-session truth " +
          s"under two-session concurrency: got ${rows.take(3)}... " +
          s"want ${truth(k).take(3)}...")
    }
    // and the shared catalog holds exactly one bucketed table pair for the
    // hammer dir — the once()-guard never double-created or dropped a live
    // table out from under the sibling session
    val key = operators.OpCache.pathKey(dirHammer).replaceAll("[^A-Za-z0-9_]", "_")
    assert(spark.catalog.tableExists(s"orders_b_$key") &&
      spark.catalog.tableExists(s"lineitem_b_$key"))
  }
}
