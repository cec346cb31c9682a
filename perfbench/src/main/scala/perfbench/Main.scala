package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one run is asked to do. `input` holds the generated inputs and
  * their manifest; `work` is the run's scratch directory (deleted by the
  * caller afterwards).
  */
final case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
                     input: Path, work: Path, cpus: Int, expected: Option[Path]) {
  def dir(name: String): String = work.resolve(name).toString
  lazy val manifest: Map[String, String] = {
    val txt = Files.readString(input.resolve("manifest.json"))
    raw""""(\w+)":\s*("[^"]*"|-?[0-9.]+)""".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).stripPrefix("\"").stripSuffix("\"")).toMap
  }
  def session(): SparkSession = {
    val s = graft.GraftSession.builder(cpus.toString).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** One run's outcome, metrics keyed by name. `e2e` is at the reference
  * host speed (see [[Calibration]]); `raw` holds the same metrics as
  * measured.
  */
final case class Result(attempted: Int, failed: Int, e2e: Map[String, Double],
                        raw: Map[String, Double], layers: Map[String, Double],
                        findings: Seq[String] = Nil, extra: Seq[(String, String)] = Nil)

/** Entry point: `perfbench.Main --workload w --seed n --seconds s --trace 0|1
  * --input dir --work dir --cpus n --result file [--expected file]`.
  * Writes the result JSON (metrics, counts, host record) to `--result`;
  * `perfbench/run.py` turns it into the benchmark's output line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = Ctx(o("workload"), o("seed").toLong, o("seconds").toDouble,
      o("trace") == "1", Paths.get(o("input")), Paths.get(o("work")),
      o("cpus").toInt, o.get("expected").map(Paths.get(_)))
    Trace.enabled = ctx.trace
    Trace.runId = s"${ctx.workload}-seed${ctx.seed}-${ProcessHandle.current().pid()}"
    if (ctx.trace)
      System.setProperty("spark.extraListeners", classOf[SparkCounters].getName)
    val r = ctx.workload match {
      case "backfill" => BackfillBench.run(ctx)
      case "ingest" => IngestBench.run(ctx)
      case "query" => QueryBench.run(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    val selfTime = if (ctx.trace) Trace.selfTimeByLayer else Map.empty[String, Double]
    if (ctx.trace) Trace.write(o("result") + ".spans.jsonl")
    val json = Json.obj(Seq(
      "workload" -> Json.str(ctx.workload),
      "seed" -> ctx.seed.toString,
      "trace" -> ctx.trace.toString,
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "e2e" -> Json.nums(r.e2e),
      "e2e_raw" -> Json.nums(r.raw),
      "layers" -> Json.nums(r.layers),
      "self_time_ms" -> Json.nums(selfTime),
      "findings" -> r.findings.map(Json.str).mkString("[", ",", "]"),
      "probe_ms" -> Calibration.all.map(Json.num).mkString("[", ",", "]"),
      "quiesce_ms" -> Calibration.quiesceMs.map(Json.num).mkString("[", ",", "]"),
      "host" -> host(ctx)) ++ r.extra: _*)
    Files.writeString(Paths.get(o("result")), json + "\n")
  }

  private def host(ctx: Ctx): String = {
    val rt = Runtime.getRuntime
    Json.obj(
      "jvm_processors" -> rt.availableProcessors.toString,
      "cpus" -> ctx.cpus.toString,
      "max_heap_mb" -> (rt.maxMemory >> 20).toString,
      "jdk" -> Json.str(System.getProperty("java.vm.name") + " " +
        System.getProperty("java.runtime.version")),
      "spark" -> Json.str(org.apache.spark.SPARK_VERSION),
      "scala" -> Json.str(scala.util.Properties.versionNumberString))
  }
}

/** Small shared helpers: timing, order statistics, checksums, file sizes. */
object Util {
  def ms[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of nothing")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** Signed 64-bit prefix of md5(s); the generator's `hash64`. Summed with
    * wrap-around it is an order-independent checksum of a row set.
    */
  def hash64(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  /** (data files, bytes) under `dir`, excluding hidden and marker files. */
  def dataFiles(dir: String): (Long, Long) = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try {
        val fs = s.filter(p => Files.isRegularFile(p) &&
            !p.getFileName.toString.startsWith(".") &&
            !p.getFileName.toString.startsWith("_")).toArray.map(_.asInstanceOf[Path])
        (fs.length.toLong, fs.map(Files.size).sum)
      } finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally s.close()
    }
  }

  def peakHeapMb: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }
  def resetPeakHeap(): Unit = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .foreach(_.resetPeakUsage())
  }
}
