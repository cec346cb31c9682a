package graft

import graft.streaming.{ArchiveStream, ProgressLine}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import java.nio.file.Files
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** Streaming semantics (SURVEY.md §2 group G) under MemoryStream micro-batches:
  * the dedup + archive pipeline behaves like the reference service —
  * duplicates across polls collapse, output is day-partitioned parquet.
  */
class StreamingSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def raw(id: Long, t: String): String =
    s"""{"id": $id, "created_at": "${t.replace(' ', 'T')}Z", "type": "PushEvent"}"""

  test("parseRaw extracts id/ts and keeps payload verbatim") {
    import spark.implicits._
    val in = Seq(raw(7, "2024-01-01 10:00:00"), raw(8, "2024-01-02 11:30:00")).toDF("raw")
    val out = ArchiveStream.parseRaw(in).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(7L, 8L))
    assert(out(0).getTimestamp(1) == ts("2024-01-01 10:00:00"))
    assert(out(0).getString(2) == raw(7, "2024-01-01 10:00:00"))
  }

  test("streaming dedup drops within-batch and cross-batch duplicate ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val events = mem.toDF().toDF("id", "ts", "raw")
    val q = ArchiveStream.dedup(events)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      // poll 1: one in-batch duplicate (id 1)
      mem.addData((1L, ts("2024-01-01 10:00:00"), "a"),
                  (1L, ts("2024-01-01 10:00:00"), "a"),
                  (2L, ts("2024-01-01 10:00:30"), "b"))
      q.processAllAvailable()
      // poll 2: id 2 replayed (cross-batch dup, inside watermark) + new id 3
      mem.addData((2L, ts("2024-01-01 10:00:30"), "b"),
                  (3L, ts("2024-01-01 10:01:00"), "c"))
      q.processAllAvailable()
      val got = spark.sql("select id from dedup_out").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("archive writes day-partitioned parquet, deduped, all rows present") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val out = Files.createTempDirectory("graft-archive-").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-").toString
    val q = ArchiveStream.archive(
      mem.toDF().toDF("id", "ts", "raw"), out, ckpt,
      trigger = Trigger.AvailableNow())
    mem.addData((1L, ts("2024-01-01 10:00:00"), "a"),
                (2L, ts("2024-01-02 09:00:00"), "b"),
                (2L, ts("2024-01-02 09:00:00"), "b"),
                (3L, ts("2024-01-02 09:05:00"), "c"))
    q.awaitTermination()
    val archived = spark.read.parquet(out)
    assert(archived.count() == 3)
    // day partitioning materialized as directory column d
    val days = archived.select("d").distinct().collect().map(_.get(0).toString).sorted
    assert(days.toSeq == Seq("2024-01-01", "2024-01-02"))
  }

  test("sliding window agg runs under a streaming source with watermark (G3)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val q = mem.toDF().toDF("id", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("n"))
      .writeStream.format("memory").queryName("sliding_out")
      .outputMode("complete").start()
    try {
      mem.addData((1L, ts("2024-01-01 10:05:00")), (2L, ts("2024-01-01 10:40:00")))
      q.processAllAvailable()
      val got = spark.sql("select ws, n from sliding_out order by ws")
        .collect().map(r => r.getTimestamp(0).toString -> r.getLong(1))
      // event at 10:05 falls in [09:30,10:30) and [10:00,11:00);
      // event at 10:40 in [10:00,11:00) and [10:30,11:30)
      assert(got.toSeq == Seq(
        "2024-01-01 09:30:00.0" -> 1L,
        "2024-01-01 10:00:00.0" -> 2L,
        "2024-01-01 10:30:00.0" -> 1L))
    } finally q.stop()
  }

  test("session window agg closes a session after the 30-minute gap (G4)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    // streaming session windows require a grouping key (no global session
    // agg) — the natural shape anyway: sessions are per user/actor
    val q = mem.toDF().toDF("id", "ts")
      .withColumn("uid", lit(1L))
      .withWatermark("ts", "10 minutes")
      .groupBy(col("uid"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("n"))
      .writeStream.format("memory").queryName("session_out")
      .outputMode("complete").start()
    try {
      // two events 10 min apart (one session), a third 40 min later (new one)
      mem.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:10:00")),
                  (3L, ts("2024-01-01 10:50:00")))
      q.processAllAvailable()
      val got = spark.sql("select ws, n from session_out order by ws")
        .collect().map(r => r.getTimestamp(0).toString -> r.getLong(1))
      assert(got.toSeq == Seq(
        "2024-01-01 10:00:00.0" -> 2L,
        "2024-01-01 10:50:00.0" -> 1L))
    } finally q.stop()
  }

  test("at-least-once replay: duplicate appends collapse at replace-by-key read") {
    import spark.implicits._
    // the reference's delivery contract: a replayed insert leaves duplicate
    // rows in storage, and the canonical read keeps one per (ts, id)
    val out = Files.createTempDirectory("graft-replay-").toString + "/a"
    val batch = Seq((1L, ts("2024-01-01 10:00:00"), "a"),
                    (2L, ts("2024-01-01 11:00:00"), "b")).toDF("id", "ts", "raw")
    def append(): Unit = batch
      .withColumn("d", to_date(col("ts")))
      .write.mode("append").partitionBy("d").parquet(out)
    append(); append() // replay after a simulated post-write failure
    val stored = spark.read.parquet(out)
    assert(stored.count() == 4)
    val canonical = stored
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("ts", "id").orderBy(col("raw"))))
      .filter(col("rn") === 1)
    assert(canonical.count() == 2)
    assert(canonical.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("compact collapses fragmented day partitions; reads and replay contract unchanged") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-compact-").toString + "/a"
    // 8 tiny appends (one per simulated micro-batch, incl. a replayed one)
    // fragment the day partition
    for (i <- 0 until 7)
      Seq((i.toLong, ts(s"2024-01-01 10:0$i:00"), s"r$i")).toDF("id", "ts", "raw")
        .withColumn("d", to_date(col("ts")))
        .write.mode("append").partitionBy("d").parquet(out)
    Seq((3L, ts("2024-01-01 10:03:00"), "r3")).toDF("id", "ts", "raw") // replay
      .withColumn("d", to_date(col("ts")))
      .write.mode("append").partitionBy("d").parquet(out)
    def files(): Int = new java.io.File(out + "/d=2024-01-01")
      .listFiles().count(_.getName.endsWith(".parquet"))
    def rows(): Seq[(Long, String)] = spark.read.parquet(out)
      .select("id", "raw").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq.sorted
    val (filesBefore, rowsBefore) = (files(), rows())
    assert(filesBefore >= 8)
    val rewritten = ArchiveStream.compact(spark, out, maxFilesPerPartition = 2)
    assert(rewritten == Seq("d=2024-01-01"))
    assert(files() == 1, "fragmented partition must collapse to one file")
    // row multiset EXACTLY preserved — including the at-least-once replay
    // duplicate, which still collapses at replace-by-key read time
    assert(rows() == rowsBefore)
    assert(spark.read.parquet(out).dropDuplicates("ts", "id").count() == 7)
    // idempotent: a second pass finds nothing fragmented
    assert(ArchiveStream.compact(spark, out, maxFilesPerPartition = 2).isEmpty)
    assert(rows() == rowsBefore)
  }

  test("compact after a crash between its append and its deletes keeps every row") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-compact-crash-").toString + "/a"
    val day = out + "/d=2024-01-01"
    def add(ids: Range): Unit = for (i <- ids)
      ArchiveStream.append(
        Seq((i.toLong, ts(f"2024-01-01 10:$i%02d:00"), s"r$i")).toDF("id", "ts", "raw"), out)
    def files(): Int = new java.io.File(day).listFiles().count(_.getName.endsWith(".parquet"))
    def read(): Seq[(Long, String)] = spark.read.parquet(out).dropDuplicates("ts", "id")
      .select("id", "raw").collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    add(0 to 5)
    val before = read()
    // the crash window: the day's rewrite was appended into the day dir,
    // but the six fragment files it replaces were never deleted
    spark.read.parquet(day)
      .repartitionByRange(1, col("ts"), col("id")).sortWithinPartitions("ts", "id")
      .write.mode("append").option("compression", "zstd").parquet(day)
    assert(files() == 7)
    assert(spark.read.parquet(out).count() == 12, "every row is stored twice")
    assert(read() == before, "the duplicate copy changed replace-by-key reads")
    // replay of the last batch, then more appends, then the next compaction
    add(5 to 10)
    assert(ArchiveStream.compact(spark, out, maxFilesPerPartition = 2) == Seq("d=2024-01-01"))
    assert(read().map(_._1) == (0L to 10L))
    assert(files() <= 2)
  }

  test("compact with ttlDays drops whole expired day partitions, like merge-time TTL") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-compact-ttl-").toString + "/a"
    // four days of data; newest day = 2024-01-10, TTL 3 days → cutoff
    // 2024-01-07 (boundary kept, matching applyTtl's >=), so only
    // 2024-01-05 is expired
    for (d <- Seq("2024-01-05", "2024-01-07", "2024-01-09", "2024-01-10"))
      Seq((d.takeRight(2).toLong, ts(s"$d 12:00:00"), "r")).toDF("id", "ts", "raw")
        .withColumn("d", to_date(col("ts")))
        .write.mode("append").partitionBy("d").parquet(out)
    val result = ArchiveStream.compact(spark, out,
      maxFilesPerPartition = 100, ttlDays = Some(3))
    assert(result == Seq("d=2024-01-05"))
    val days = spark.read.parquet(out).select("d").distinct()
      .collect().map(_.get(0).toString).sorted
    assert(days.toSeq == Seq("2024-01-07", "2024-01-09", "2024-01-10"))
    // deterministic under replay: a second pass drops nothing further
    assert(ArchiveStream.compact(spark, out,
      maxFilesPerPartition = 100, ttlDays = Some(3)).isEmpty)
  }

  test("compact with ttlDays keeps the NULL-day partition and never parses it as a date") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-compact-ttl-null-").toString + "/a"
    // a row without created_at has a NULL ts and lands in
    // d=__HIVE_DEFAULT_PARTITION__, whose age is unknown
    ArchiveStream.append(Seq(
      (5L, ts("2024-01-05 12:00:00"), "r"),
      (10L, ts("2024-01-10 12:00:00"), "r"),
      (99L, null, "no ts")).toDF("id", "ts", "raw"), out)
    def ttlRead() = ArchiveStream.applyTtl(spark.read.parquet(out))
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    val before = ttlRead()
    assert(ArchiveStream.compact(spark, out,
      maxFilesPerPartition = 100, ttlDays = Some(3)) == Seq("d=2024-01-05"))
    assert(spark.read.parquet(out).filter(col("ts").isNull)
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(99L))
    assert(ttlRead() == before)
  }

  test("a read of an archive with 40 day dirs runs no listing job, same rows and files") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-days-").toString + "/a"
    ArchiveStream.append((0 until 40).map(i =>
      (i.toLong, new Timestamp(1704067200000L + i * 86400000L), s"r$i"))
      .toDF("id", "ts", "raw"), out)
    assert(new java.io.File(out).list().count(_.startsWith("d=")) == 40)
    def run() = {
      val df = spark.read.parquet(out)
      (df.inputFiles.toSeq.sorted, df.select("id", "raw", "d").collect()
        .map(r => (r.getLong(0), r.getString(1), r.get(2).toString)).toSeq.sorted)
    }
    val (jobs, driver) = listingJobs(run())
    assert(jobs == 0)
    val (sparkJobs, viaJob) = withConf(listingThreshold -> "1")(listingJobs(run()))
    assert(sparkJobs == 1, "the counter must see Spark's own listing job")
    assert(driver == viaJob)
    assert(driver._1.size == 40 && driver._2.map(_._1) == (0L until 40L))
  }

  test("compact of a 40-file day runs no listing job, same rows and files") {
    def run() = {
      val out = Files.createTempDirectory("graft-compact-many-").toString + "/a"
      spark.range(0, 400, 1, 40).select(col("id"),
        timestamp_seconds(lit(1704067200L) + col("id")).as("ts"),
        concat(lit("r"), col("id")).as("raw"))
        .write.parquet(out + "/d=2024-01-01")
      val before = spark.read.parquet(out).inputFiles.length
      val touched = ArchiveStream.compact(spark, out)
      val after = spark.read.parquet(out)
      (before, touched, after.inputFiles.length, after.select("id", "ts", "raw", "d")
        .collect().map(_.toString).toSeq.sorted)
    }
    val (jobs, driver) = listingJobs(run())
    assert(jobs == 0)
    val (sparkJobs, viaJob) = withConf(listingThreshold -> "1")(listingJobs(run()))
    assert(sparkJobs >= 1, "the counter must see Spark's own listing job")
    assert(driver == viaJob)
    assert(driver._1 == 40 && driver._2 == Seq("d=2024-01-01") && driver._3 == 1 &&
      driver._4.size == 400)
  }

  test("archive with compactEvery merges small files between micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val out = Files.createTempDirectory("graft-archcomp-").toString + "/a"
    val ckpt = Files.createTempDirectory("graft-ckpt-").toString
    val q = ArchiveStream.archive(mem.toDF().toDF("id", "ts", "raw"), out, ckpt,
      trigger = Trigger.ProcessingTime("0 seconds"), compactEvery = 1)
    try {
      for (i <- 0 until 5) {
        mem.addData((i.toLong, ts(s"2024-01-02 09:0$i:00"), s"r$i"))
        q.processAllAvailable()
      }
      val dayDir = new java.io.File(out + "/d=2024-01-02")
      val nFiles = dayDir.listFiles().count(_.getName.endsWith(".parquet"))
      assert(nFiles <= 4, s"expected compacted day dir, found $nFiles files")
      val got = spark.read.parquet(out).select("id").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == (0L until 5L))
    } finally q.stop()
  }

  private val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** Waits, up to 2 s, until `q` has run no trigger for 200 ms: time for a
    * no-data batch that follows a poll to show up in `recentProgress`.
    */
  private def settle(q: StreamingQuery): Unit = {
    val end = System.nanoTime() + 2000L * 1000 * 1000
    var quiet = 0
    while (quiet < 20 && System.nanoTime() < end) {
      quiet = if (q.status.isTriggerActive) 0 else quiet + 1
      Thread.sleep(10)
    }
  }

  /** Distinct batch ids in `q`'s progress, and whether each read input. An
    * idle query repeats its last batch id every 10 s, so ids, not entries.
    */
  private def batches(q: StreamingQuery): (Int, Boolean) = {
    val byId = q.recentProgress.groupBy(_.batchId)
    (byId.size, byId.values.forall(_.exists(_.numInputRows > 0)))
  }

  /** Starts `archive` over a fresh MemoryStream in `s`; returns the feed. */
  private def archiveFeed(s: SparkSession, compactEvery: Int = 0)
      : (MemoryStream[(Long, Timestamp, String)], StreamingQuery, String) = {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val base = Files.createTempDirectory("graft-onebatch-").toString
    val q = ArchiveStream.archive(mem.toDF().toDF("id", "ts", "raw"), s"$base/out",
      s"$base/ckpt", trigger = Trigger.ProcessingTime(0L), compactEvery = compactEvery)
    (mem, q, s"$base/out")
  }

  private def archivedIds(out: String): Seq[Long] =
    spark.read.parquet(out).select("id").collect().map(_.getLong(0)).toSeq.sorted

  test("archive runs one micro-batch per poll, with no eviction-only batches") {
    val (mem, q, _) = archiveFeed(spark)
    try {
      // every poll advances the watermark, which is when a no-data batch
      // would follow it
      for (i <- 0 until 4) {
        mem.addData((i.toLong, ts(f"2024-01-02 09:${i * 15}%02d:00"), s"r$i"))
        q.processAllAvailable()
      }
      settle(q)
      assert(batches(q) == ((4, true)))
    } finally q.stop()
  }

  test("archive restores the session's no-data batch switch; later windowed queries close windows") {
    val s = spark.newSession()
    for (setting <- Seq(None, Some("true"))) {
      setting.foreach(s.conf.set(noDataKey, _))
      val before = s.conf.getAll.get(noDataKey)
      val (_, q, _) = archiveFeed(s)
      q.stop()
      assert(s.conf.getAll.get(noDataKey) == before)
    }
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val q = ArchiveStream.hourlyCounts(
        mem.toDF().toDF("id", "ts").withWatermark("ts", "10 minutes"))
      .writeStream.format("memory").queryName("closed_hours")
      .outputMode("append").start()
    try {
      mem.addData((1L, ts("2024-01-02 09:05:00")), (2L, ts("2024-01-02 09:20:00")))
      q.processAllAvailable()
      // the watermark passes 10:00 after this batch; only a no-data batch
      // can then emit the closed 09:00 window, as no more data arrives
      mem.addData((3L, ts("2024-01-02 11:00:00")))
      q.processAllAvailable()
      def got = s.sql("select hour, n from closed_hours").collect()
        .map(r => r.getTimestamp(0) -> r.getLong(1)).toSeq
      val end = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (got.isEmpty && System.nanoTime() < end) Thread.sleep(50)
      assert(got == Seq(ts("2024-01-02 09:00:00") -> 2L))
    } finally q.stop()
  }

  test("concurrent archive starts leave the session's switch unchanged; each runs one batch per poll") {
    val s = spark.newSession()
    val before = s.conf.getAll.get(noDataKey)
    for (_ <- 0 until 3) {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val feeds = Seq.fill(2)(Future { barrier.await(); archiveFeed(s) })
        .map(Await.result(_, scala.concurrent.duration.Duration(60, "s")))
      try {
        for (((mem, q, _), k) <- feeds.zipWithIndex; i <- 0 until 2) {
          mem.addData((k * 10L + i, ts(f"2024-01-02 09:${i * 15}%02d:00"), "r"))
          q.processAllAvailable()
        }
        feeds.foreach(f => settle(f._2))
        for ((_, q, _) <- feeds) assert(batches(q) == ((2, true)))
      } finally feeds.foreach(_._2.stop())
      assert(s.conf.getAll.get(noDataKey) == before)
    }
  }

  test("archive: a repeated (id, ts) arriving after its entry expired is archived once") {
    val (mem, q, out) = archiveFeed(spark)
    try {
      for (poll <- Seq(
          Seq(1L -> "09:00"),
          // the watermark moves to 09:20, past id 1's 09:10 expiry
          Seq(2L -> "09:30"),
          // expired but not yet evicted (eviction rides this batch, after
          // its input): the state still holds id 1
          Seq(1L -> "09:00", 3L -> "09:31"),
          // evicted: the late filter (watermark 09:20) drops it
          Seq(1L -> "09:00", 4L -> "09:50"))) {
        mem.addData(poll.map { case (id, t) => (id, ts(s"2024-01-02 $t:00"), s"r$id") })
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(archivedIds(out) == Seq(1L, 2L, 3L, 4L))
  }

  test("archive's late filter lags one poll: a late event within one poll's advance is kept") {
    // Intended. With one batch per poll, a batch filters late events by the
    // watermark the previous poll's batch ran with, not by the one that
    // batch set. Id 3 is behind the 09:20 watermark poll 2 set, but not
    // behind the 08:50 one poll 2's batch ran with, so it is archived.
    // With a no-data batch after every poll it was dropped. The reference
    // drops no late event at all.
    val (mem, q, out) = archiveFeed(spark)
    try {
      for (poll <- Seq(
          Seq(1L -> "09:00"),
          Seq(2L -> "09:30", 1L -> "09:00"),
          Seq(3L -> "09:15", 4L -> "09:40"))) {
        mem.addData(poll.map { case (id, t) => (id, ts(s"2024-01-02 $t:00"), s"r$id") })
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(archivedIds(out) == Seq(1L, 2L, 3L, 4L))
  }

  test("archive's compactEvery counts polls") {
    val (mem, q, out) = archiveFeed(spark, compactEvery = 3)
    def files(): Int = new java.io.File(out + "/d=2024-01-02").listFiles()
      .count(_.getName.endsWith(".parquet"))
    try {
      // one file per poll; the compaction after poll 3 finds 3 <= 4 files
      // and leaves them, the one after poll 6 merges 6
      val counts = for (i <- 1 to 6) yield {
        mem.addData((i.toLong, ts(f"2024-01-02 09:${i * 5}%02d:00"), s"r$i"))
        q.processAllAvailable()
        files()
      }
      assert(counts == Seq(1, 2, 3, 4, 5, 1))
    } finally q.stop()
    assert(archivedIds(out) == (1L to 6L))
  }

  test("ProgressLine emits each archive trigger as one JSON line with WAL and state commit times") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val base = Files.createTempDirectory("graft-progress-").toString
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new ProgressLine(lines.add(_))
    spark.streams.addListener(listener)
    try {
      mem.addData((1L, ts("2024-01-02 09:00:00"), "a"), (2L, ts("2024-01-02 09:01:00"), "b"))
      val q = ArchiveStream.archive(mem.toDF().toDF("id", "ts", "raw"), s"$base/out",
        s"$base/ckpt", trigger = Trigger.ProcessingTime(0L))
      val triggers = try {
        q.processAllAvailable()
        mem.addData((2L, ts("2024-01-02 09:01:00"), "b"), (3L, ts("2024-01-02 09:20:00"), "c"))
        q.processAllAvailable()
        q.recentProgress.length
      } finally q.stop()
      // listener events arrive asynchronously
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        .enable(com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
      def ours = lines.asScala.toSeq.map(mapper.readTree)
        .filter(_.path("id").asText == q.id.toString)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (ours.size < triggers && System.nanoTime() < deadline) Thread.sleep(50)
      assert(triggers >= 2 && ours.size >= triggers)
      assert(lines.asScala.forall(l => !l.contains('\n')))
      for (p <- ours) {
        assert(p.isObject)
        assert(p.at("/durationMs/walCommit").isNumber, p)
        assert(p.at("/stateOperators/0/commitTimeMs").isNumber, p)
      }
    } finally spark.streams.removeListener(listener)
  }

  test("mapGroupsWithState: per-key counts accumulate across micro-batches (custom state, G7/I)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val q = graft.streaming.StateOps.runningCounts(
        mem.toDF().toDF("key", "ts").as[(Long, Timestamp)])
      .writeStream.format("memory").queryName("state_out")
      .outputMode("update").start()
    try {
      mem.addData((1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 10:01:00")),
                  (2L, ts("2024-01-01 10:02:00")))
      q.processAllAvailable()
      mem.addData((1L, ts("2024-01-01 10:03:00")))
      q.processAllAvailable()
      // cross-batch accumulation: key 1 reaches 3 (2 then +1), key 2 stays 1
      val latest = spark.sql("select key, max(n) from state_out group by key")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(latest == Map(1L -> 3L, 2L -> 1L))
    } finally q.stop()
  }

  test("sketch-MV maintenance: incremental partials == single pass; replay is a union no-op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val mv = Files.createTempDirectory("graft-sketchmv-").toString
    val ckpt = Files.createTempDirectory("graft-sketchmv-ckpt-").toString
    val b1 = Seq(1L, 2L, 3L, 2L).map(u => (u, ts("2024-01-01 10:00:00")))
    val b2 = Seq(3L, 4L, 5L).map(u => (u, ts("2024-01-01 11:00:00"))) ++
      Seq(1L, 6L).map(u => (u, ts("2024-01-02 09:00:00")))
    val q = ArchiveStream.sketchPartials(mem.toDF().toDF("id", "ts"), mv, ckpt)
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def rollup = ArchiveStream.sketchRollup(spark, mv)
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    // two batches touched day 1 -> two partial rows rolled up; equals the
    // single-pass estimate over the union of both batches
    val singlePass = (b1 ++ b2).toDF("id", "ts")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("id"))).as("e"))
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    val first = rollup
    assert(first == singlePass, s"merged=$first single=$singlePass")
    // at-least-once replay: append the SAME batch's partial again — the
    // register-wise-max union absorbs the duplicate, estimates unchanged
    val mem2 = MemoryStream[(Long, Timestamp)]
    val q2 = ArchiveStream.sketchPartials(
      mem2.toDF().toDF("id", "ts"), mv,
      Files.createTempDirectory("graft-sketchmv-ckpt2-").toString)
    try {
      mem2.addData(b1: _*); q2.processAllAvailable()
    } finally q2.stop()
    assert(rollup == first, "replayed partial changed the estimate")
    // and the MV really did grow by one more day-1 partial row (no dedup
    // happened — the ALGEBRA absorbed it)
    assert(spark.read.parquet(mv).filter(col("day") === "2024-01-01").count() == 3)
    // compaction (VERDICT r6 ask #6): union-merge the partials down to one
    // row per day — the rollup is unchanged because the compaction IS the
    // rollup's own associative union, then keep streaming into the
    // compacted MV and verify new appends still merge in.
    val (nBefore, nAfter) = ArchiveStream.compactSketchPartials(spark, mv)
    assert(nBefore == 4L && nAfter == 2L, s"expected 4 partials -> 2, got $nBefore -> $nAfter")
    assert(spark.read.parquet(mv).count() == 2)
    assert(rollup == first, "compaction changed the rollup")
    val mem3 = MemoryStream[(Long, Timestamp)]
    val q3 = ArchiveStream.sketchPartials(
      mem3.toDF().toDF("id", "ts"), mv,
      Files.createTempDirectory("graft-sketchmv-ckpt3-").toString)
    try {
      mem3.addData((7L, ts("2024-01-02 10:00:00"))); q3.processAllAvailable()
    } finally q3.stop()
    val withNew = rollup
    assert(withNew("2024-01-01") == first("2024-01-01") &&
      withNew("2024-01-02") == first("2024-01-02") + 1,
      s"post-compaction append lost: $withNew vs $first")
    // crash window: compaction appended its merged copy (one row per day)
    // but died before deleting the partials it merged — both sit in the MV
    spark.read.parquet(mv).groupBy("day")
      .agg(hll_union_agg(col("sketch")).as("sketch"))
      .write.mode("append").parquet(mv)
    assert(spark.read.parquet(mv).count() == 5)
    assert(rollup == withNew, "the duplicated partials changed the rollup")
    val (rb, ra) = ArchiveStream.compactSketchPartials(spark, mv)
    assert(rb == 5L && ra == 2L, s"post-crash compaction got $rb -> $ra")
    val perDay = spark.read.parquet(mv).groupBy("day").count()
      .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(perDay == Map("2024-01-01" -> 1L, "2024-01-02" -> 1L))
    assert(rollup == withNew, "post-crash compaction changed the rollup")
  }

  test("flatMapGroupsWithState streaming funnel: levels equal the batch event_funnel") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    // watermark wider than the replayed 30-day span: no state eviction mid
    // replay, so no funnel re-anchors and batch/stream levels must agree
    // exactly (see the streamingFunnel doc comment for the re-anchor rule)
    val q = graft.streaming.StateOps.streamingFunnel(
        mem.toDF().toDF("user_id", "event_type", "ts").as[(Long, String, Timestamp)],
        watermark = "40 days")
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    try {
      // replay the whole sf0.001 events table in event-time order, split
      // across three micro-batches — the archive source's in-order contract
      val all = Tables.events(spark, sf)
        .select("user_id", "event_type", "ts")
        .orderBy("ts", "event_id")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2)))
      for (chunk <- all.grouped(400)) { mem.addData(chunk.toSeq); q.processAllAvailable() }
      // per-user max reached level from the stream, exclusive level counts
      val streamLevels = spark.sql(
        "select user_id, max(level) as lvl from funnel_out group by user_id")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val streamCounts = streamLevels.values.groupBy(identity).map { case (l, v) => (l.toLong, v.size.toLong) }
      val batchCounts = SparkEntry.queries("event_funnel")(spark, sf).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).filter(_._1 > 0).toMap
      assert(streamCounts == batchCounts,
        s"stream $streamCounts vs batch $batchCounts")
    } finally q.stop()
  }

  test("streaming as-of join equals the batch join_asof / plan-level AsOfJoin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long, Timestamp)]
    // watermark wider than the replayed span: no state eviction mid-replay,
    // so the stream must reproduce the batch as-of exactly
    val q = graft.streaming.StateOps.streamingAsOf(
        mem.toDF().toDF("user_id", "event_type", "event_id", "ts")
          .as[(Long, String, Long, Timestamp)],
        watermark = "40 days")
      .writeStream.format("memory").queryName("asof_out")
      .outputMode("append").start()
    try {
      val all = Tables.events(spark, sf)
        .filter(col("event_type").isin("click", "purchase"))
        .select("user_id", "event_type", "event_id", "ts")
        .orderBy("ts", "event_id")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getTimestamp(3)))
      for (chunk <- all.grouped(400)) { mem.addData(chunk.toSeq); q.processAllAvailable() }
      val streamed = spark.sql(
        "select p_id, click_ts from asof_out")
        .collect().map(r => r.getLong(0) -> Option(r.getTimestamp(1))).toMap
      val batch = SparkEntry.queries("join_asof")(spark, sf).collect()
        .map(r => r.getLong(0) -> Option(r.getTimestamp(3))).toMap
      assert(streamed.size == batch.size,
        s"purchase count: stream ${streamed.size} vs batch ${batch.size}")
      val diffs = batch.collect {
        case (id, want) if streamed(id) != want => (id, streamed(id), want)
      }
      assert(diffs.isEmpty, s"first diffs: ${diffs.take(5)}")
    } finally q.stop()
  }

  test("late data beyond the watermark is dropped from finalized windows (G6)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val q = mem.toDF().toDF("id", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("n"))
      .writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    try {
      mem.addData(Seq((1L, ts("2024-01-01 00:05:00")), (2L, ts("2024-01-01 00:20:00"))))
      q.processAllAvailable()
      // event time jumps 3 h: the watermark passes 01:00 and append mode
      // finalizes the first window with n = 2
      mem.addData(Seq((3L, ts("2024-01-01 03:00:00"))))
      q.processAllAvailable()
      // a LATE row for the closed 00:00 window — behind the watermark,
      // must be dropped, not resurrect or re-emit the window
      mem.addData(Seq((4L, ts("2024-01-01 00:30:00"))))
      q.processAllAvailable()
      mem.addData(Seq((5L, ts("2024-01-01 06:00:00"))))
      q.processAllAvailable()
      val first = spark.sql(
        "select n from late_out where w_start = timestamp'2024-01-01 00:00:00'")
        .collect().map(_.getLong(0)).toSeq
      assert(first == Seq(2L),
        s"closed window must emit once with the on-time count only: $first")
    } finally q.stop()
  }

  test("flatMapGroupsWithState carry-forward equals the batch window_fill_forward") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, Timestamp, Double)]
    // watermark wider than the replayed span: no idle eviction mid-replay,
    // so the stream must reproduce the batch window exactly
    val q = graft.streaming.StateOps.carryForward(
        mem.toDF().toDF("user_id", "event_id", "event_type", "ts", "value")
          .as[(Long, Long, String, Timestamp, Double)],
        watermark = "40 days")
      .writeStream.format("memory").queryName("carry_out")
      .outputMode("append").start()
    try {
      val all = Tables.events(spark, sf)
        .select("user_id", "event_id", "event_type", "ts", "value")
        .orderBy("ts", "event_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getTimestamp(3), r.getDouble(4)))
      for (chunk <- all.grouped(400)) { mem.addData(chunk.toSeq); q.processAllAvailable() }
      val stream = spark.sql("select user_id, event_id, filled from carry_out")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
      val batch = SparkEntry.queries("window_fill_forward")(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
      assert(stream.size == batch.size, s"${stream.size} vs ${batch.size}")
      assert(stream == batch)
    } finally q.stop()
  }

  test("property: streaming funnel equals a sequential state-machine reference") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val types = Vector("signup", "click", "purchase", "view", "error")
    val windowMs = 7L * 24 * 3600 * 1000
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      // unique, strictly increasing timestamps: no tie ambiguity to test
      val events = (0 until 300).map { k =>
        (rnd.nextInt(8).toLong, types(rnd.nextInt(types.size)),
          new Timestamp(base + k * 60000L + rnd.nextInt(50000)))
      }.sortBy(_._3.getTime)
      // sequential reference: the documented state machine, no eviction
      val want = scala.collection.mutable.Map[Long, (Long, Long, Long)]()
      val wantLevels = scala.collection.mutable.Map[Long, Int]()
      for ((u, typ, ts) <- events) {
        val t = ts.getTime
        val (t1, t2, t3) = want.getOrElse(u, (-1L, -1L, -1L))
        if (typ == "signup" && t1 < 0) {
          want(u) = (t, t2, t3); wantLevels(u) = math.max(wantLevels.getOrElse(u, 0), 1)
        } else if (typ == "click" && t1 >= 0 && t2 < 0 && t > t1 && t <= t1 + windowMs) {
          want(u) = (t1, t, t3); wantLevels(u) = math.max(wantLevels.getOrElse(u, 0), 2)
        } else if (typ == "purchase" && t2 >= 0 && t3 < 0 && t > t2 && t <= t1 + windowMs) {
          want(u) = (t1, t2, t); wantLevels(u) = math.max(wantLevels.getOrElse(u, 0), 3)
        }
      }
      val mem = MemoryStream[(Long, String, Timestamp)]
      val q = graft.streaming.StateOps.streamingFunnel(
          mem.toDF().toDF("user_id", "event_type", "ts").as[(Long, String, Timestamp)],
          watermark = "60 days")
        .writeStream.format("memory").queryName(s"funnel_prop_$seed")
        .outputMode("append").start()
      try {
        for (chunk <- events.grouped(97)) { mem.addData(chunk); q.processAllAvailable() }
        val got = spark.sql(
          s"select user_id, max(level) from funnel_prop_$seed group by user_id")
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        assert(got == wantLevels.toMap, s"seed=$seed")
      } finally q.stop()
    }
  }

  test("streaming funnel evicts closed windows and re-anchors on a later signup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val q = graft.streaming.StateOps.streamingFunnel(
        mem.toDF().toDF("user_id", "event_type", "ts").as[(Long, String, Timestamp)],
        watermark = "1 hour")
      .writeStream.format("memory").queryName("funnel_restart_out")
      .outputMode("append").start()
    try {
      // funnel 1: signup + click, never purchases; window (7 d) then closes
      mem.addData((1L, "signup", ts("2024-01-01 00:00:00")),
                  (1L, "click", ts("2024-01-01 01:00:00")))
      q.processAllAvailable()
      // another user's event pushes the watermark past day 8 -> user 1's
      // window (ends Jan 8) is evicted at the state-store timeout
      mem.addData((2L, "view", ts("2024-01-10 00:00:00")))
      q.processAllAvailable()
      // funnel 2: the late signup re-anchors; a full chain completes
      mem.addData((1L, "signup", ts("2024-01-20 00:00:00")),
                  (1L, "click", ts("2024-01-20 01:00:00")),
                  (1L, "purchase", ts("2024-01-20 02:00:00")))
      q.processAllAvailable()
      val levels = spark.sql(
        "select level, count(*) as n from funnel_restart_out where user_id = 1 group by level")
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      // two level-1 and two level-2 advances (one per funnel), one level-3
      assert(levels == Map(1 -> 2L, 2 -> 2L, 3 -> 1L), levels.toString)
    } finally q.stop()
  }

  test("stream-stream interval join: watermarked state, results equal the batch twin (G6+)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicksMem = MemoryStream[(Long, Long, Timestamp)]
    val purchMem = MemoryStream[(Long, Long, Timestamp)]
    val clicks = clicksMem.toDF().toDF("user_id", "c_id", "c_ts")
      .withWatermark("c_ts", "2 hours")
    val purchases = purchMem.toDF().toDF("user_id", "p_id", "p_ts")
      .withWatermark("p_ts", "2 hours")
    val q = graft.operators.WindowOps.intervalJoin(purchases, clicks)
      .writeStream.format("memory").queryName("sij_out")
      .outputMode("append").start()
    try {
      // user 1: click at 10:00 then purchase at 10:30 (in window) and at
      // 11:30 (outside); user 2's click belongs to a different user
      clicksMem.addData((1L, 100L, ts("2024-01-01 10:00:00")),
                        (2L, 200L, ts("2024-01-01 10:10:00")))
      purchMem.addData((1L, 900L, ts("2024-01-01 10:30:00")))
      q.processAllAvailable()
      purchMem.addData((1L, 901L, ts("2024-01-01 11:30:00")))
      q.processAllAvailable()
      val got = spark.sql("select p_id, c_id from sij_out")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((900L, 100L)))
      // identical plan, batch mode, same rows
      val batch = graft.operators.WindowOps.intervalJoin(
        Seq((1L, 900L, ts("2024-01-01 10:30:00")), (1L, 901L, ts("2024-01-01 11:30:00")))
          .toDF("user_id", "p_id", "p_ts"),
        Seq((1L, 100L, ts("2024-01-01 10:00:00")), (2L, 200L, ts("2024-01-01 10:10:00")))
          .toDF("user_id", "c_id", "c_ts"))
        .select("p_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch == got)
    } finally q.stop()
  }

  test("hourlyCounts matches batch groupBy on the same data") {
    import spark.implicits._
    val e = Tables.events(spark, sf).select(col("event_id").as("id"), col("ts"),
      col("props").as("raw"))
    val streaming = ArchiveStream.hourlyCounts(e).orderBy("hour").collect()
    val batch = e.groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n")).orderBy("hour").collect()
    assert(streaming.toSeq == batch.toSeq)
  }

  test("checkpoint crash-recovery: restart from the checkpoint dir converges on the uninterrupted run (G8)") {
    // The reference's whole correctness story is at-least-once delivery +
    // idempotent storage (ref: cmd/gh-load/main.go:257-261, README.md:14).
    // Demonstrated, not assumed: run the archive stream over a real file
    // source, crash it AFTER a sink append but BEFORE the micro-batch
    // commits (the at-least-once window), rebuild the query on a FRESH
    // session from the same checkpoint dir, drain, and require the
    // replace-by-key read to equal an uninterrupted control run. The
    // replayed batch leaves duplicate rows in storage by design; the
    // canonical read collapses them.
    import graft.sources.GhArchiveSource
    val src = Files.createTempDirectory("graft-crash-src-").toString
    def ev(id: Long, t: String) = s"""{"id":$id,"created_at":"$t"}"""
    val hours = Seq(
      "2024-01-15-0" -> Seq(ev(1, "2024-01-15T00:10:00Z"), ev(2, "2024-01-15T00:40:00Z")),
      "2024-01-15-1" -> Seq(ev(3, "2024-01-15T01:05:00Z"), ev(1, "2024-01-15T00:10:00Z")),
      "2024-01-15-2" -> Seq(ev(4, "2024-01-15T02:30:00Z")),
      "2024-01-16-0" -> Seq(ev(5, "2024-01-16T00:01:00Z")))
    hours.foreach { case (key, lines) =>
      val w = new java.io.PrintWriter(new java.io.OutputStreamWriter(
        new java.util.zip.GZIPOutputStream(
          new java.io.FileOutputStream(s"$src/$key.json.gz")), "UTF-8"))
      lines.foreach(w.println); w.close()
    }
    def canonical(dir: String): Seq[(Long, java.sql.Timestamp)] = {
      val stored = spark.read.parquet(dir)
      stored.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("id").orderBy("ts", "hour")))
        .filter(col("rn") === 1)
        .select("id", "ts").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1))).sortBy(_._1).toSeq
    }
    val base = Files.createTempDirectory("graft-crash-").toString
    val (outA, ckptA) = (s"$base/a", s"$base/ckptA")
    // run 1: crash after batch 1's files are appended but before commit
    val crashed = ArchiveStream.archive(
      GhArchiveSource.readStream(spark, src, maxFilesPerTrigger = 1),
      outA, ckptA, Trigger.ProcessingTime("50 milliseconds"),
      afterWrite = bid => if (bid == 1) throw new RuntimeException("injected crash"))
    val failed =
      try { crashed.processAllAvailable(); false }
      catch { case _: Exception => true }
    assert(failed, "the injected crash must terminate the first run")
    assert(crashed.exception.isDefined)
    // run 2: REBUILD the query on a fresh session, same checkpoint + sink
    val s2 = spark.newSession()
    val resumed = ArchiveStream.archive(
      GhArchiveSource.readStream(s2, src, maxFilesPerTrigger = 1),
      outA, ckptA, Trigger.ProcessingTime("50 milliseconds"))
    try { resumed.processAllAvailable() } finally resumed.stop()
    // control: uninterrupted run over the same archive
    val (outB, ckptB) = (s"$base/b", s"$base/ckptB")
    val control = ArchiveStream.archive(
      GhArchiveSource.readStream(spark, src, maxFilesPerTrigger = 1),
      outB, ckptB, Trigger.ProcessingTime("50 milliseconds"))
    try { control.processAllAvailable() } finally control.stop()
    assert(canonical(outA) == canonical(outB),
      "post-recovery replace-by-key read must equal the uninterrupted run")
    assert(canonical(outA).map(_._1) == Seq(1L, 2L, 3L, 4L, 5L))
    // and the crash actually exercised the at-least-once window: the
    // replayed batch's rows are present at least twice in raw storage
    assert(spark.read.parquet(outA).count() >
      spark.read.parquet(outB).count(),
      "recovery must have re-appended the uncommitted batch")
  }

  test("streaming as-of: checkpoint crash-recovery converges on the uninterrupted run (G9)") {
    // Same fault-injection seam as the archive() G8 test, applied to the
    // STATEFUL operator: crash after a sink append but before the
    // micro-batch commits, rebuild on a fresh session from the checkpoint
    // (flatMapGroupsWithState state + file-source offsets both live there),
    // drain, and require the deduped output to equal an uninterrupted
    // control run AND the batch join_asof truth.
    val base = Files.createTempDirectory("graft-asof-crash-").toString
    val srcDir = s"$base/src"
    new java.io.File(srcDir).mkdirs()
    val eventsDf = Tables.events(spark, sf)
      .filter(col("event_type").isin("click", "purchase"))
      .select("user_id", "event_type", "event_id", "ts")
    val schema = eventsDf.schema
    val all = eventsDf.orderBy("ts", "event_id").collect()
    // 4 ts-ordered chunk files with strictly increasing mod times: the file
    // source lists by mod time, so with maxFilesPerTrigger=1 replay order
    // equals event-time order (the archive replay contract)
    all.grouped((all.length + 3) / 4).zipWithIndex.foreach { case (chunk, i) =>
      val df = spark.createDataFrame(
        java.util.Arrays.asList(chunk: _*), schema)
      val tmp = s"$base/tmp$i"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(srcDir, f"chunk-$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(1700000000000L + i * 60000L))
    }
    def run(s: org.apache.spark.sql.SparkSession, out: String, ckpt: String,
            crashAt: Option[Long]) = {
      import s.implicits._
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
        .toDF("user_id", "event_type", "event_id", "ts")
        .as[(Long, String, Long, Timestamp)]
      graft.streaming.StateOps.streamingAsOf(src, watermark = "40 days")
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (df: org.apache.spark.sql.Dataset[graft.streaming.StateOps.AsOfMatch],
           bid: Long) =>
            df.write.mode("append").parquet(out)
            if (crashAt.contains(bid)) throw new RuntimeException("injected crash")
        }
        .start()
    }
    def canonical(out: String): Map[Long, Option[Timestamp]] =
      spark.read.parquet(out).dropDuplicates("p_id").collect()
        .map(r => r.getAs[Long]("p_id") ->
          Option(r.getAs[Timestamp]("click_ts"))).toMap
    val (outA, ckptA) = (s"$base/a", s"$base/ckptA")
    val crashed = run(spark, outA, ckptA, crashAt = Some(1L))
    val failed =
      try { crashed.processAllAvailable(); false }
      catch { case _: Exception => true }
    assert(failed, "the injected crash must terminate the first run")
    val s2 = spark.newSession()
    val resumed = run(s2, outA, ckptA, crashAt = None)
    try { resumed.processAllAvailable() } finally resumed.stop()
    val (outB, ckptB) = (s"$base/b", s"$base/ckptB")
    val control = run(spark, outB, ckptB, crashAt = None)
    try { control.processAllAvailable() } finally control.stop()
    assert(canonical(outA) == canonical(outB),
      "post-recovery as-of output must equal the uninterrupted run")
    val batch = SparkEntry.queries("join_asof")(spark, sf).collect()
      .map(r => r.getLong(0) -> Option(r.getTimestamp(3))).toMap
    assert(canonical(outA) == batch,
      "post-recovery as-of output must equal the batch join_asof truth")
    // the crash exercised the at-least-once window: the replayed batch's
    // rows appear at least twice in raw (pre-dedup) storage
    assert(spark.read.parquet(outA).count() > spark.read.parquet(outB).count(),
      "recovery must have re-appended the uncommitted batch")
  }

  test("applyTtl drops nothing younger than 3 days and everything older") {
    val e = Tables.events(spark, sf)
    val kept = ArchiveStream.applyTtl(e.withColumnRenamed("event_id", "id"))
    val mx = e.agg(max("ts")).head().getTimestamp(0)
    val cutoff = java.sql.Timestamp.from(mx.toInstant.minus(java.time.Duration.ofDays(3)))
    assert(kept.filter(col("ts") < lit(cutoff)).count() == 0)
    assert(kept.count() == e.filter(col("ts") >= lit(cutoff)).count())
  }
}
