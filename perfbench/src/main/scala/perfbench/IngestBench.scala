package perfbench

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.streaming.ArchiveStream

/** `ingest`: the gh-archived path. Polls of raw events go through a
  * `MemoryStream[String]` into `ArchiveStream.archive(ArchiveStream.parseRaw
  * (...), compactEvery = 12)`, `graft.Service`'s default. The loop is
  * closed: a poll is added only after the micro-batch holding the previous
  * one has committed, as the reference's insert loop blocks on its queue.
  *
  * Set-up is a fresh session, query start and the first committed poll.
  * The first set-up runs in the cold JVM; the median of the warm ones
  * that follow is reported. The last set-up's query is the measured one.
  * It is first fed the preload poll, untimed: 90,000 events, 10 minutes
  * of event time, which fills the dedup state to the watermark's span as
  * the firehose would. Then it is fed poll after poll until `seconds` have
  * passed, and its archive is checked against the generator's distinct
  * (id, raw) set for the polls fed.
  */
object IngestBench {
  private val compactEvery = 12
  /** Timed polls at least. Each poll is a data batch then a no-data batch;
    * after the set-up poll (batches 0-1) and the preload (2-3), batch 11,
    * the first compaction, is the no-data batch of the fourth timed poll.
    */
  private val minPolls = 5
  /** Set-ups: one cold, then warm ones. */
  private val setupReps = 3

  private final case class Poll(lines: Seq[String], distinct: Long, checksum: Long)

  private def polls(ctx: Ctx): IndexedSeq[Poll] = {
    // polls.idx: one "<events> <cumulative distinct> <cumulative checksum>"
    // line per poll; polls.ndjson: the events, poll after poll
    val idx = Files.readAllLines(ctx.input.resolve("polls.idx")).asScala
      .filter(_.nonEmpty).map(_.split(" ").map(_.toLong))
    val it = Files.lines(ctx.input.resolve("polls.ndjson")).iterator.asScala
    idx.map(a => Poll(it.take(a(0).toInt).toVector, a(1), a(2))).toIndexedSeq
  }

  private final class Feed(spark: SparkSession, ctx: Ctx, tag: String) {
    val out: String = ctx.dir(s"archive-$tag")
    val ckpt: String = ctx.dir(s"checkpoint-$tag")
    val mem: MemoryStream[String] = {
      implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
      implicit val enc: org.apache.spark.sql.Encoder[String] = Encoders.STRING
      MemoryStream[String]
    }
    val query: StreamingQuery = Trace.span("streaming", "ArchiveStream.archive") {
      ArchiveStream.archive(ArchiveStream.parseRaw(mem.toDF().toDF("raw")),
        out, ckpt, Trigger.ProcessingTime(0), compactEvery = compactEvery)
    }
    /** Offer one poll and block until it is committed; returns (epoch ms
      * of the offer, wall ms from offer to commit).
      */
    def offer(p: Poll, i: Int): (Long, Double) = {
      val at = System.currentTimeMillis()
      val (_, t) = Util.ms {
        mem.addData(p.lines)
        Trace.span("streaming", s"poll $i")(query.processAllAvailable())
      }
      (at, t)
    }
    /** Wait, up to 2 s, until no trigger has run for 3 checks in a row: the
      * no-data batch that follows a committed poll must not share the cores
      * with the host-speed probe. Returns the ms waited.
      */
    def settle(): Double = Util.ms {
      val end = System.nanoTime() + 2000000000L
      var quiet = 0
      while (quiet < 3 && System.nanoTime() < end) {
        quiet = if (query.status.isTriggerActive) 0 else quiet + 1
        Thread.sleep(5)
      }
    }._2
  }

  def run(ctx: Ctx): Result = {
    val ps = polls(ctx)
    val progress = new ProgressLog
    // set-up: session start, query start, first poll committed
    def setUp(tag: String): (SparkSession, Feed) = {
      val spark = ctx.session()
      if (ctx.trace) spark.streams.addListener(progress)
      val f = new Feed(spark, ctx, tag)
      f.offer(ps(0), 0)
      (spark, f)
    }
    Calibration.warm(ctx.cpus)
    // every set-up but the last is torn down; each warm one is scaled by a
    // probe taken right before it
    val setups, setupsScaled = ArrayBuffer.empty[Double]
    def timedSetUp(rep: Int): (SparkSession, Feed) = {
      val probe = if (rep == 0) Calibration.ReferenceMs else Calibration.sample(ctx.cpus)
      val (sf, t) = Util.ms(setUp(s"setup$rep"))
      setups += t
      setupsScaled += Calibration.scale(t, probe)
      sf
    }
    for (r <- 0 until setupReps - 1) {
      val (spark, f) = timedSetUp(r)
      f.query.stop()
      spark.stop()
      Util.deleteTree(f.out); Util.deleteTree(f.ckpt)
    }
    val (spark, feed) = timedSetUp(setupReps - 1)
    val preloadMs = feed.offer(ps(1), 1)._2 + feed.settle()
    org.apache.spark.PerfbenchShim.drainListeners(spark.sparkContext)
    progress.clear()
    Counters.reset(); Util.resetPeakHeap()
    val offers = ArrayBuffer.empty[(Long, Double)]
    val scaled = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (offers.size + 2 < ps.size &&
        (offers.size < minPolls || (System.nanoTime() - t0) / 1e9 < ctx.seconds)) {
      // without the probe, the next poll would wait out the no-data batch
      // inside its own batch; `settle` moves that wait ahead of the probe
      val wait = feed.settle()
      val probe = Calibration.sample(ctx.cpus)
      val (at, t) = feed.offer(ps(offers.size + 2), offers.size + 2)
      offers += ((at, wait + t))
      scaled += Calibration.scale(wait + t, probe)
    }
    feed.query.stop()
    org.apache.spark.PerfbenchShim.drainListeners(spark.sparkContext)
    if (offers.size + 2 == ps.size)
      System.err.println(s"[ingest] fed all ${ps.size} polls before ${ctx.seconds} s")
    val sparkLayers = Counters.snapshot + ("jvm.peak_heap_mb" -> Util.peakHeapMb)
    val fedPolls = ps.take(offers.size + 2)
    val offered = fedPolls.map(_.lines.size.toLong).sum
    val fed = fedPolls.last
    // the set-up poll and the preload are not timed
    val measured = fedPolls.drop(2).map(_.lines.size.toLong).sum

    // --- check: the archive holds exactly the distinct events fed
    val rows = spark.read.parquet(feed.out).select(col("id"), col("raw")).collect()
    val sum = rows.iterator.map(r => Util.hash64(s"${r.getLong(0)}|${r.getString(1)}")).sum
    val ok = rows.length == fed.distinct && sum == fed.checksum &&
      rows.map(_.getLong(0)).distinct.length == rows.length
    if (!ok) System.err.println(s"[ingest] archive has ${rows.length} rows, checksum " +
      s"$sum; want ${fed.distinct}, ${fed.checksum}")
    val jsonBytes = fedPolls.flatMap(_.lines).map(_.length + 1L).sum
    val (files, bytes) = Util.dataFiles(feed.out)

    val lat = offers.map(_._2).toSeq
    val layers = if (!ctx.trace) Map.empty[String, Double]
      else sparkLayers ++ streamLayers(progress.all, offers.map(_._1).toSeq,
        offered - fed.distinct, offered - rows.length) ++ Map(
        "sink.files" -> files.toDouble,
        "sink.bytes" -> bytes.toDouble,
        "sink.bytes_per_input_byte" -> bytes.toDouble / jsonBytes)
    spark.stop()
    // the loop is closed, so the polls' own times add up to its wall time
    // (the probes between them excluded)
    def e2e(setup: Double, ts: Seq[Double]) = Map(
      "setup_s" -> setup / 1000,
      "throughput_per_s" -> measured / (ts.sum / 1000),
      "latency_ms" -> Util.median(ts),
      "geomean_ms" -> Util.geomean(ts))
    Result(
      attempted = fedPolls.size, failed = if (ok) 0 else fedPolls.size,
      e2e = e2e(Util.median(setupsScaled.tail.toSeq), scaled.toSeq),
      raw = e2e(Util.median(setups.tail.toSeq), lat),
      layers = layers,
      extra = Seq(
        "ingest_events_per_s" -> Json.num(measured / (scaled.sum / 1000)),
        "archive_bytes_per_input_byte" -> Json.num(bytes.toDouble / jsonBytes),
        "polls" -> offers.size.toString, // timed polls
        "ingest_batch_p95_ms" -> Json.num(Util.quantile(scaled.toSeq, 0.95)),
        "polls_ms" -> lat.map(Json.num).mkString("[", ",", "]"),
        "setups_ms" -> setups.map(Json.num).mkString("[", ",", "]"),
        "preload_ms" -> Json.num(preloadMs)))
  }

  /** Per-layer numbers from every progress event of the measured query:
    * medians over data batches, and no-data batches counted apart.
    */
  private def streamLayers(ps: Seq[StreamingQueryProgress], offerEpochMs: Seq[Long],
                           dupsSent: Long, dupsDropped: Long): Map[String, Double] = {
    val (data, noData) = ps.partition(_.numInputRows > 0)
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Util.median(xs)
    val ops = data.flatMap(p => Option(p.stateOperators).toSeq.flatten)
    val all = ps.flatMap(p => Option(p.stateOperators).toSeq.flatten)
    val start = (p: StreamingQueryProgress) => java.time.Instant.parse(p.timestamp).toEpochMilli
    // wait: from a poll's offer to the start of the first batch that reads it
    val waits = offerEpochMs.flatMap(at =>
      data.map(start).filter(_ >= at).minOption.map(s => (s - at).toDouble))
    val compacting = (p: StreamingQueryProgress) => p.batchId % compactEvery == compactEvery - 1
    val trig = data.map(dur(_, "triggerExecution"))
    // a compacting batch against the median batch of its own kind (data or
    // no-data) that does not compact
    val compactMs = ps.filter(compacting).map { p =>
      dur(p, "triggerExecution") - med(ps.filter(q => !compacting(q) &&
        (q.numInputRows > 0) == (p.numInputRows > 0)).map(dur(_, "triggerExecution")))
    }
    Map(
      "streaming.trigger_ms" -> med(trig),
      "streaming.add_batch_ms" -> med(data.map(dur(_, "addBatch"))),
      "streaming.wal_commit_ms" -> med(data.map(dur(_, "walCommit"))),
      "streaming.commit_offsets_ms" -> med(data.map(dur(_, "commitOffsets"))),
      "streaming.query_planning_ms" -> med(data.map(dur(_, "queryPlanning"))),
      "streaming.state_commit_ms" -> med(ops.map(_.commitTimeMs.toDouble)),
      "streaming.state_update_ms" -> med(ops.map(_.allUpdatesTimeMs.toDouble)),
      "streaming.wait_ms" -> med(waits),
      "streaming.data_batches" -> data.size.toDouble,
      "streaming.nodata_batches" -> noData.size.toDouble,
      "streaming.nodata_batch_ms" -> med(noData.map(dur(_, "triggerExecution"))),
      "streaming.state_rows" -> all.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0),
      "streaming.state_mem_bytes" -> all.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0),
      "streaming.dup_dropped_ratio" -> (if (dupsSent == 0) 0.0 else dupsDropped.toDouble / dupsSent),
      "streaming.compact_ms" -> med(compactMs),
      "sink.write_ms" -> med(data.filterNot(compacting).map(dur(_, "addBatch"))))
  }
}
