package perfbench

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SQLExecution

/** `query`: the analyst side. One client runs the 4 keys of `Keys`
  * through `graft.SparkEntry.queries`, one after another, over the generated
  * tables. The first pass builds the OpCache intermediates and warms the
  * JIT; it is the set-up. Steady passes follow until `seconds` have passed.
  * There are at least two, and each key's time is its fastest pass, so one
  * stall (a GC, a compile, a busy neighbour) does not decide it. The mix
  * time is the sum of those per-key times.
  *
  * Each key's result is folded on the executors into (rows, checksum): the
  * xxHash64 of every result row as an UnsafeRow, summed. That runs the
  * key's whole physical plan (the final sort included) and checks every
  * output of every pass against `expected_query.json`.
  */
object QueryBench {
  val Keys: Seq[String] = Seq(
    // archive semantics
    "replace_by_key", "partition_prune",
    // planner-level operator
    "sql_recursive",
    // data-bound: pair expansion
    "market_basket_lift")

  /** Steady passes at least; each key's fastest pass counts. */
  private val minPasses = 2

  private final case class KeyRun(ms: Double, scaledMs: Double, buildMs: Double, planMs: Double,
                                  execMs: Double, jobs: Long, phases: Map[String, Double],
                                  rows: Long, checksum: Long, error: Option[String])

  def checksum(df: DataFrame): (Long, Long) = {
    val qe = df.queryExecution
    val schema = df.schema
    SQLExecution.withNewExecutionId(qe, Some("perfbench checksum")) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var n, h = 0L
        it.foreach { r =>
          val u = proj(r)
          n += 1
          h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        }
        Iterator((n, h))
      }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    }
  }

  private def runKey(spark: SparkSession, dir: String, key: String, trace: Boolean): KeyRun = {
    val jobs0 = Counters.jobs.get
    val t0 = System.nanoTime()
    try {
      val (df, buildMs) = Util.ms(Trace.span("operators", s"$key build")(
        graft.SparkEntry.queries(key)(spark, dir)))
      val planMs = if (!trace) 0.0
        else Util.ms(Trace.span("plans", s"$key executedPlan")(df.queryExecution.executedPlan))._2
      val ((rows, sum), execMs) = Util.ms(Trace.span("operators", s"$key exec")(checksum(df)))
      val phases = if (!trace) Map.empty[String, Double]
        else df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
      if (trace) org.apache.spark.PerfbenchShim.drainListeners(spark.sparkContext)
      val ms = (System.nanoTime() - t0) / 1e6
      KeyRun(ms, ms, buildMs, planMs, execMs,
        Counters.jobs.get - jobs0, phases, rows, sum, None)
    } catch {
      case e: Exception =>
        val ms = (System.nanoTime() - t0) / 1e6
        KeyRun(ms, ms, 0, 0, 0, 0, Map.empty, -1, 0,
          Some(Option(e.getMessage).getOrElse(e.toString).linesIterator.take(1).mkString))
    }
  }

  /** expected_query.json: {"<key>": {"rows": n, "checksum": "<signed 64-bit>"}},
    * in any key order and layout. `None` when no file was named (a run that
    * records the expected results); a named file that is missing fails
    * every key.
    */
  private def expected(ctx: Ctx): Option[Map[String, (Long, Long)]] =
    ctx.expected.map { p =>
      if (!Files.exists(p)) Map.empty
      else raw""""(\w+)":\s*\{([^{}]*)\}""".r.findAllMatchIn(Files.readString(p)).flatMap { m =>
        val body = m.group(2)
        for {
          rows <- raw""""rows":\s*(-?\d+)""".r.findFirstMatchIn(body)
          sum <- raw""""checksum":\s*"(-?\d+)"""".r.findFirstMatchIn(body)
        } yield m.group(1) -> (rows.group(1).toLong, sum.group(1).toLong)
      }.toMap
    }

  def run(ctx: Ctx): Result = {
    val dir = ctx.input.resolve("tables").toString
    val want = expected(ctx)
    val findings = mutable.LinkedHashSet.empty[String]
    var attempted, failed = 0
    val observed = mutable.LinkedHashMap.empty[String, (Long, Long)]
    def check(k: String, r: KeyRun): Unit = {
      attempted += 1
      r.error.foreach(e => findings += s"$k failed: $e")
      observed.getOrElseUpdate(k, (r.rows, r.checksum))
      val mismatch = r.error.isEmpty && want.exists(_.get(k) != Some((r.rows, r.checksum)))
      if (r.error.nonEmpty || mismatch) failed += 1
      if (mismatch) findings += (want.get.get(k) match {
        case Some(e) => s"$k: result (rows ${r.rows}, checksum ${r.checksum}) " +
          s"differs from the expected $e at seed ${ctx.seed}"
        case None => s"$k: no expected result in ${ctx.expected.get}"
      })
    }
    def pass(spark: SparkSession): Seq[(String, KeyRun)] = Keys.map { k =>
      val r = runKey(spark, dir, k, ctx.trace)
      check(k, r)
      k -> r
    }
    // a probe between every two passes, the set-up's first pass included;
    // a pass is scaled by the mean of the probes on either side of it
    Calibration.warm(ctx.cpus)
    var before = Calibration.sample(ctx.cpus)
    def probeAfter(): Double = {
      val after = Calibration.sample(ctx.cpus)
      val probe = (before + after) / 2
      before = after
      probe
    }

    val ((spark, first), setupMs) = Util.ms {
      val s = ctx.session()
      (s, pass(s))
    }
    val setupProbe = probeAfter()
    Counters.reset(); Util.resetPeakHeap()
    val passes = mutable.ArrayBuffer.empty[Seq[(String, KeyRun)]]
    val t0 = System.nanoTime()
    while (passes.size < minPasses || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val p = pass(spark)
      val probe = probeAfter()
      passes += p.map { case (k, r) => k -> r.copy(scaledMs = Calibration.scale(r.ms, probe)) }
    }
    org.apache.spark.PerfbenchShim.drainListeners(spark.sparkContext)
    val sparkLayers = Counters.snapshot + ("jvm.peak_heap_mb" -> Util.peakHeapMb)
    spark.stop()

    // each key's fastest steady run at the reference speed; the mix time is
    // their sum
    val best = Keys.map(k => k -> passes.map(_.toMap.apply(k)).minBy(_.scaledMs)).toMap
    val keyMs = Keys.map(best(_).scaledMs)
    val mixMs = keyMs.sum
    val rawKeyMs = Keys.map(k => passes.map(_.toMap.apply(k).ms).min)
    val layers = if (!ctx.trace) Map.empty[String, Double] else {
      val phase = (name: String) => Keys.map(best(_).phases.getOrElse(name, 0.0)).sum
      sparkLayers ++ Keys.flatMap(k => Seq(
        s"operators.$k.exec_ms" -> best(k).execMs,
        s"operators.$k.jobs" -> best(k).jobs.toDouble,
        s"operators.$k.build_ms" -> best(k).buildMs,
        s"operators.$k.plan_ms" -> best(k).planMs)) ++ Map(
        "operators.first_pass_build_ms" -> first.map(_._2.buildMs).sum,
        "plans.analysis_ms" -> phase("analysis"),
        "plans.optimization_ms" -> phase("optimization"),
        "plans.planning_ms" -> phase("planning"))
    }
    // throughput counts every steady pass, not only each key's fastest
    def e2e(setup: Double, perKey: Seq[Double], allMs: Double) = Map(
      "setup_s" -> setup / 1000,
      "throughput_per_s" -> Keys.size * passes.size / (allMs / 1000),
      "latency_ms" -> perKey.sum,
      "geomean_ms" -> Util.geomean(perKey))
    Result(
      attempted = attempted, failed = failed,
      e2e = e2e(Calibration.scale(setupMs, setupProbe), keyMs,
        passes.flatten.map(_._2.scaledMs).sum),
      raw = e2e(setupMs, rawKeyMs, passes.flatten.map(_._2.ms).sum),
      layers = layers,
      findings = findings.toSeq,
      extra = Seq(
        "query_mix_s" -> Json.num(mixMs / 1000),
        "query_geomean_ms" -> Json.num(Util.geomean(keyMs)),
        "passes_ms" -> passes.map(p => Json.num(p.map(_._2.ms).sum)).mkString("[", ",", "]"),
        "key_ms" -> Json.nums(Keys.zip(keyMs)),
        "first_pass_key_ms" -> Json.nums(first.map { case (k, r) => k -> r.ms }),
        "observed" -> Json.obj(observed.toSeq.map { case (k, (n, h)) =>
          k -> Json.obj("rows" -> n.toString, "checksum" -> Json.str(h.toString)) }: _*)))
  }
}
