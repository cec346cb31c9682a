package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions.col

/** `backfill`: the gh-load path. Times `graft.Backfill.main` over the
  * generated hour files. Each call starts and stops its own Spark session,
  * as one gh-load invocation does, so its wall time includes session start.
  * The first call runs in a cold JVM and is the workload's set-up; the
  * calls after it are measured until `seconds` have passed, at least
  * `minCalls` of them. Every call writes its own archive, and each archive
  * is checked at the end against the generator's distinct (id, created_at)
  * set.
  */
object BackfillBench {
  /** Measured calls at least; `latency_ms` is their median. */
  private val minCalls = 3

  def run(ctx: Ctx): Result = {
    val m = ctx.manifest
    val hours = ctx.input.resolve("hours").toString
    val args = (out: String) => Array(hours, out, m("from"), m("to"))
    val outs = ArrayBuffer.empty[String]
    val writeMs = ArrayBuffer.empty[Double]
    var errors = 0
    def call(): Double = {
      val out = ctx.dir(s"archive-${outs.size}")
      outs += out
      val (ok, t) = Util.ms {
        try { Trace.span("sink", "graft.Backfill.main")(graft.Backfill.main(args(out))); true }
        catch { case e: Exception => System.err.println(s"[backfill] $e"); false }
      }
      if (!ok) errors += 1
      writeMs += Counters.lastResultStageMs.get.toDouble
      t
    }

    // a probe between every two calls; each call is scaled by the mean of
    // the probes on either side of it
    Calibration.warm(ctx.cpus)
    var before = Calibration.sample(ctx.cpus)
    def timed(): (Double, Double) = {
      val t = call()
      val after = Calibration.sample(ctx.cpus)
      val probe = (before + after) / 2
      before = after
      (t, Calibration.scale(t, probe))
    }
    val (setupMs, setupScaled) = timed()
    Counters.reset(); Util.resetPeakHeap(); writeMs.clear()
    val t0 = System.nanoTime()
    val times, scaled = ArrayBuffer.empty[Double]
    while (times.size < minCalls || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val (t, st) = timed()
      times += t
      scaled += st
    }
    val spark = ctx.session()
    val sparkLayers = Counters.snapshot + ("jvm.peak_heap_mb" -> Util.peakHeapMb)

    // --- checks: each archive holds exactly the generated distinct events
    val distinct = m("distinct").toLong
    val checksum = m("checksum").toLong
    val kept = outs.map { out =>
      try {
        val rows = spark.read.parquet(out).select(col("id"), col("ts")).collect()
        val ids = rows.map(_.getLong(0))
        val sum = rows.iterator.map(r =>
          Util.hash64(s"${r.getLong(0)}|${r.getTimestamp(1).getTime / 1000}")).sum
        val ok = ids.length == distinct && ids.distinct.length == ids.length && sum == checksum
        if (!ok) System.err.println(s"[backfill] $out: ${ids.length} rows, " +
          s"${ids.distinct.length} ids, checksum $sum; want $distinct, $checksum")
        (ok, ids.length.toLong)
      } catch { case e: Exception => System.err.println(s"[backfill] $out: $e"); (false, -1L) }
    }
    val failed = kept.count(!_._1)

    // --- traced only: the source layer on its own, outside Backfill.main
    val layers = if (!ctx.trace) Map.empty[String, Double] else {
      import graft.sources.GhArchiveSource
      val (from, to) = (GhArchiveSource.parseHourKey(m("from")),
        GhArchiveSource.parseHourKey(m("to")))
      val listMs = Util.median((1 to 3).map(_ => Util.ms(Trace.span("sources",
        "GhArchiveSource.listHours")(GhArchiveSource.listHours(hours, Some(from), Some(to))))._2))
      val decodeMs = Util.median((1 to 3).map(_ => Util.ms(Trace.span("sources",
        "GhArchiveSource.read")(GhArchiveSource.read(spark, hours, Some(from), Some(to))
          .write.format("noop").mode("overwrite").save()))._2))
      val (files, bytes) = Util.dataFiles(outs.head)
      val dups = m("duplicates").toDouble
      sparkLayers ++ Map(
        "sources.list_ms" -> listMs,
        "sources.decode_ms" -> decodeMs,
        "sources.input_mb_per_s" -> m("json_bytes").toDouble / 1048576 / (decodeMs / 1000),
        "sink.write_ms" -> Util.median(writeMs.toSeq),
        "sink.files" -> files.toDouble,
        "sink.bytes" -> bytes.toDouble,
        "sink.bytes_per_input_byte" -> bytes.toDouble / m("json_bytes").toDouble,
        "backfill.dup_kept_ratio" -> (kept.head._2 - distinct) / dups)
    }
    spark.stop()

    val (_, bytes) = Util.dataFiles(outs.head)
    val lines = m("lines").toDouble
    // throughput: every line of every measured call over their total time
    def e2e(setup: Double, ts: Seq[Double]) = Map(
      "setup_s" -> setup / 1000,
      "throughput_per_s" -> lines * ts.size / (ts.sum / 1000),
      "latency_ms" -> Util.median(ts),
      "geomean_ms" -> Util.geomean(ts))
    Result(
      attempted = outs.size, failed = math.max(failed, errors),
      e2e = e2e(setupScaled, scaled.toSeq),
      raw = e2e(setupMs, times.toSeq),
      layers = layers,
      extra = Seq(
        "backfill_events_per_s" -> Json.num(lines * scaled.size / (scaled.sum / 1000)),
        "archive_bytes_per_input_byte" -> Json.num(bytes / m("json_bytes").toDouble),
        "calls_ms" -> times.map(Json.num).mkString("[", ",", "]")))
  }
}
