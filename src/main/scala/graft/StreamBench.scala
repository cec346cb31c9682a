package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming throughput benchmark (VERDICT r7 ask #7): the batch side has
  * BENCH/ramp artifacts, the G1–G10 streaming twins had only correctness
  * specs. This main measures sustained rows/s, per-micro-batch latency and
  * state-store footprint for the three stateful streaming surfaces —
  * archive ingest (parse → watermark dedup → day-partitioned zstd sink),
  * `StateOps.streamingAsOf` (flatMapGroupsWithState, one (ts,id) pair per
  * user), and the `sketchPartials` MV (per-day HLL partials + compaction) —
  * against the reference's capacity configuration (10,000-row insert
  * batches, 5-batch queue, 100-event poll pages; BASELINE.md:12,18).
  *
  * Protocol: the events table at SPARK_GRAFT_SF_DIR is replayed in
  * event-time order (the archive source's in-order contract) through a
  * MemoryStream in 10,000-row adds. Each add is processed to completion
  * before the next (`processAllAvailable`), mirroring the reference's
  * sequential insert loop; the rows/s number therefore includes every
  * per-batch cost — planning, state read/write, sink commit — not just
  * steady-state operator throughput. Prints ONE JSON line; also written to
  * SPARK_GRAFT_STREAM_OUT when set.
  *
  * Throughput context: the reference service ingests the LIVE GitHub
  * firehose (~100-200 events/s sustained) with capacity for 10k-row
  * batches; the engine gate here is simply "orders of magnitude above the
  * live rate on one node", with the cluster scale-out story carried by the
  * state-discipline notes on each operator (state is per-key O(1)).
  */
object StreamBench {

  private case class StageStats(rows: Long, batches: Int, sec: Double,
                                stateRows: Long, meanBatchMs: Double,
                                breakdown: String)

  private def drain(q: StreamingQuery, feed: Iterator[() => Unit]): Unit =
    feed.foreach { add => add(); q.processAllAvailable() }

  private def stats(q: StreamingQuery, rows: Long, sec: Double): StageStats = {
    import scala.jdk.CollectionConverters._
    val progress = q.recentProgress.toSeq
    val withData = progress.filter(_.numInputRows > 0)
    // PEAK state footprint, not the final snapshot — watermark/idle-gap
    // eviction usually empties the store before the last batch
    val stateRows = progress
      .flatMap(p => Option(p.stateOperators).toSeq.flatten.map(_.numRowsTotal))
      .maxOption.getOrElse(0L)
    def r1(v: Double) = math.round(v * 10) / 10.0
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val meanMs = mean(withData.flatMap(p =>
      Option(p.durationMs.get("triggerExecution")).map(_.toDouble)))
    // Per-batch attribution (VERDICT r9 ask #4: STREAM_BENCH_r09 carried a
    // 3.4x intra-artifact spread with no diagnosis string): mean per-batch
    // durationMs components plus the state operator's commit/update times
    // and every nonzero custom state-store metric (the RocksDB provider
    // reports its snapshot/changelog/compaction costs here) — so a latency
    // delta names its phase instead of needing a rerun to triage.
    val durKeys = withData.flatMap(_.durationMs.keySet().asScala)
      .distinct.sorted
    val durs = durKeys.map(k => k -> mean(withData.flatMap(p =>
        Option(p.durationMs.get(k)).map(_.toDouble))))
      .filter(_._2 >= 0.05)
    val ops = withData.flatMap(p => Option(p.stateOperators).toSeq.flatten)
    val opMs = if (ops.isEmpty) Seq.empty else Seq(
      "state_commit_ms" -> mean(ops.map(_.commitTimeMs.toDouble)),
      "state_updates_ms" -> mean(ops.map(_.allUpdatesTimeMs.toDouble)),
      "state_removals_ms" -> mean(ops.map(_.allRemovalsTimeMs.toDouble)))
    // SnapshotLastUploaded.* are VERSION COUNTERS, not costs — a mean of
    // them reads like milliseconds and misleads (seen in the first r10
    // assembly); drop them, keep every real latency/byte/count metric.
    val customKeys = ops.flatMap(_.customMetrics.keySet().asScala)
      .distinct.sorted.filterNot(_.startsWith("SnapshotLastUploaded"))
    val customs = customKeys.map(k => k -> mean(ops.flatMap(o =>
        Option(o.customMetrics.get(k)).map(_.toDouble))))
      .filter(_._2 >= 1.0)
    val breakdown =
      (durs.map { case (k, v) => s""""dur_$k": ${r1(v)}""" } ++
        opMs.filter(_._2 >= 0.05).map { case (k, v) => s""""$k": ${r1(v)}""" } ++
        customs.map { case (k, v) => s""""$k": ${r1(v)}""" })
        .mkString("{", ", ", "}")
    StageStats(rows, withData.size, sec, stateRows, r1(meanMs), breakdown)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val batchRows = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCH", "10000").toInt
    // State-store provider knob (VERDICT r8 ask #5): the default HDFS-backed
    // store keeps the full state map on-heap per partition — fine at sf1
    // key cardinality, the thing to measure at 10× keys; "rocksdb" switches
    // to the incremental-checkpointing off-heap provider a production
    // deployment would run at large state. One JVM per provider run.
    val provider = sys.env.getOrElse("SPARK_GRAFT_STREAM_PROVIDER", "hdfs")
    val builder = GraftSession.builder(cpus)
    if (provider == "rocksdb") builder.config(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // the replay source: events in (ts, event_id) order — collected once on
    // the driver, the same place the reference's poller holds its pages
    // dev/rerun filter: `runMain graft.StreamBench asof` runs only the
    // named stages (ingest/asof/sketch); skipped stages report zeros
    val allStages = Set("ingest", "asof", "sketch")
    val stages: Set[String] =
      if (args.isEmpty) allStages
      else {
        // ADVICE r9 #4: an unvalidated filter accepts typos ("asfo") and
        // silently emits an all-zero artifact that downstream triage could
        // mistake for a measured run — fail with a named error instead.
        val unknown = args.toSet.diff(allStages)
        require(unknown.isEmpty,
          s"StreamBench: unknown stage name(s) ${unknown.mkString(", ")} — " +
          s"valid stages are ${allStages.toSeq.sorted.mkString(", ")}")
        args.toSet
      }
    val events = Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("ts", "event_id")
      .collect()
    val n = events.length
    def chunks[T](xs: Seq[T]): Iterator[Seq[T]] = xs.grouped(batchRows)

    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // -- stage 1: archive ingest (A2/B1/C1/C5/G1/G5) ----------------------
    // raw JSON lines through parse → dedup → day-partitioned zstd parquet,
    // with a 10% tail replay (at-least-once): replayed ids must be absorbed
    // by the watermark dedup, not double-written.
    val rawLines = events.map { r =>
      val id = r.getLong(0)
      val ts = r.getTimestamp(1).toString.replace(' ', 'T') + "Z"
      s"""{"id": $id, "created_at": "$ts", "type": "PushEvent"}"""
    }.toSeq
    val replayTail = rawLines.takeRight(n / 10)
    val zero = StageStats(0L, 0, 1.0, 0L, 0.0, "{}")
    val ingestStats = if (!stages("ingest")) zero else {
      val mem = MemoryStream[String]
      val out = Files.createTempDirectory("graft-sbench-archive-").toString
      val ckpt = Files.createTempDirectory("graft-sbench-ckpt-").toString
      val q = graft.streaming.ArchiveStream.archive(
        graft.streaming.ArchiveStream.parseRaw(mem.toDF().toDF("raw")),
        out, ckpt, trigger = Trigger.ProcessingTime(0))
      val (_, sec) = timed {
        try drain(q, (chunks(rawLines) ++ chunks(replayTail))
          .map(c => () => { mem.addData(c); () }))
        finally q.stop()
      }
      val written = spark.read.parquet(out).count()
      require(written == n.toLong,
        s"ingest wrote $written rows, want $n (replay must dedup)")
      stats(q, n.toLong + replayTail.size, sec)
    }

    // -- stage 2: streaming as-of (G7/G9), with a mid-stream kill-rebuild --
    // The query checkpoints; after the first half of the feed it is STOPPED
    // and rebuilt from the checkpoint (the G9 crash-recovery seam, here as
    // a timed measurement): recovery_sec is start() -> offsets reconciled +
    // state store loaded (one empty processAllAvailable), i.e. the time a
    // production restart pays before serving — the number that separates
    // the on-heap HDFS store (rebuilds state from the delta files) from
    // RocksDB (loads SST snapshots + incremental changelog).
    val tuples = events.map(r =>
      (r.getLong(2), r.getString(3), r.getLong(0), r.getTimestamp(1)))
    val (asofStats, recoverySec) = if (!stages("asof")) (zero, 0.0) else {
      val mem = MemoryStream[(Long, String, Long, Timestamp)]
      val ckpt = Files.createTempDirectory("graft-sbench-asof-ckpt-").toString
      def start() = graft.streaming.StateOps.streamingAsOf(
          mem.toDF().toDF("user_id", "event_type", "event_id", "ts")
            .as[(Long, String, Long, Timestamp)])
        .writeStream.format("noop").option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      val feed = chunks(tuples.toSeq).map(c => () => { mem.addData(c); () }).toSeq
      val (half1, half2) = feed.splitAt(feed.size / 2)
      val q1 = start()
      val (_, sec1) = timed {
        try drain(q1, half1.iterator) finally q1.stop()
      }
      // recovery = restart THROUGH the first post-restart micro-batch: the
      // HDFS store loads its per-partition state maps and RocksDB its SST
      // snapshot + changelog LAZILY, on first access inside a batch — a
      // bare start() measures only query bootstrap (observed 0.1 s at any
      // state size, r9), so the batch that forces the load is the number.
      val (q2, recSec) = timed {
        val q = start()
        q.processAllAvailable() // offset reconciliation + uncommitted replay
        half2.headOption.foreach { add => add(); q.processAllAvailable() }
        q
      }
      val (_, sec2) = timed {
        try drain(q2, half2.drop(1).iterator) finally q2.stop()
      }
      // rows/s over both halves incl. the recovery batch's rows;
      // state/latency stats from the post-restart run
      (stats(q2, n.toLong, sec1 + recSec + sec2),
        math.round(recSec * 10) / 10.0)
    }

    // -- stage 3: sketch-MV partials + compaction (G10/K8) ----------------
    val pairs = events.map(r => (r.getLong(2), r.getTimestamp(1)))
    val (sketchStats, partialsBefore, partialsAfter, compactSec) =
        if (!stages("sketch")) (zero, 0, 0, 0.0) else {
      val mem = MemoryStream[(Long, Timestamp)]
      val mv = Files.createTempDirectory("graft-sbench-mv-").toString
      val q = graft.streaming.ArchiveStream.sketchPartials(
        mem.toDF().toDF("id", "ts"), mv,
        Files.createTempDirectory("graft-sbench-mvckpt-").toString,
        trigger = Trigger.ProcessingTime(0))
      val (_, sec) = timed {
        try drain(q, chunks(pairs.toSeq).map(c => () => { mem.addData(c); () }))
        finally q.stop()
      }
      val ((before, after), cSec) = timed {
        graft.streaming.ArchiveStream.compactSketchPartials(spark, mv)
      }
      (stats(q, n.toLong, sec), before, after, cSec)
    }

    def js(s: StageStats): String =
      f"""{"rows": ${s.rows}, "batches": ${s.batches}, "sec": ${s.sec}%.1f, """ +
        f""""rows_per_sec": ${math.round(s.rows / s.sec)}, """ +
        f""""mean_batch_ms": ${s.meanBatchMs}, "state_rows": ${s.stateRows}, """ +
        f""""batch_breakdown": ${s.breakdown}}"""
    val out =
      s"""{"metric": "stream_bench", "sf_dir": "$sfDir", "batch_rows": $batchRows,
         | "state_store_provider": "$provider",
         | "reference": {"insert_batch_rows": 10000, "queue_depth": 5, "poll_page": 100},
         | "ingest": ${js(ingestStats)},
         | "asof_recovery_sec": $recoverySec,
         | "asof": ${js(asofStats)},
         | "sketch_mv": ${js(sketchStats)},
         | "sketch_compaction": {"partials_before": $partialsBefore,
         |  "partials_after": $partialsAfter, "sec": ${math.round(compactSec * 10) / 10.0}}}"""
        .stripMargin.linesIterator.mkString("")
    println(out)
    sys.env.get("SPARK_GRAFT_STREAM_OUT").foreach { p =>
      Files.write(java.nio.file.Paths.get(p), out.getBytes)
    }
    spark.stop()
  }
}
