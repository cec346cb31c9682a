package graft

import graft.sources.GhArchiveSource
import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.file.Files
import java.time.LocalDateTime
import java.util.zip.GZIPOutputStream

/** The hour-keyed archive source: listing-level range pruning, gzip NDJSON
  * decode, hour-column derivation, malformed-row policy.
  */
class GhArchiveSourceSpec extends SparkSpec {
  import GhArchiveSourceSpec._

  private lazy val archiveDir: String = {
    val dir = Files.createTempDirectory("graft-gha-").toString
    def ev(id: Long, ts: String) =
      s"""{"id":$id,"created_at":"$ts","type":"PushEvent","actor":{"login":"u$id"}}"""
    writeHourFile(dir, "2024-01-15-0", Seq(ev(1, "2024-01-15T00:10:00Z"), ev(2, "2024-01-15T00:20:00Z")))
    writeHourFile(dir, "2024-01-15-1", Seq(ev(3, "2024-01-15T01:05:00Z")))
    writeHourFile(dir, "2024-01-15-2", Seq(ev(4, "2024-01-15T02:30:00Z")))
    Files.write(java.nio.file.Paths.get(s"$dir/not-an-hour-file.txt"),
      "ignored".getBytes("UTF-8"))
    dir
  }

  test("listHours prunes to the requested range at listing time") {
    val all = GhArchiveSource.listHours(archiveDir)
    assert(all.map(_._2) == Seq("2024-01-15-0", "2024-01-15-1", "2024-01-15-2"))
    val strays = Seq("2024-01-15-99", "2024-02-30-1", "2024-01-15-10")
    try {
      // stray invalid-hour artifact is skipped, never aborts the listing
      writeHourFile(archiveDir, "2024-01-15-99", Seq("{}"))
      // and so is a key the calendar lacks: STRICT parsing, no rounding to
      // the month's last day
      writeHourFile(archiveDir, "2024-02-30-1", Seq("{}"))
      assert(GhArchiveSource.listHours(archiveDir).map(_._2) ==
        Seq("2024-01-15-0", "2024-01-15-1", "2024-01-15-2"))
      // order is chronological, not lexicographic (unpadded hour: "10" < "2")
      writeHourFile(archiveDir, "2024-01-15-10", Seq("{}"))
      assert(GhArchiveSource.listHours(archiveDir).map(_._2).last == "2024-01-15-10")
    } finally strays.foreach(k => new java.io.File(s"$archiveDir/$k.json.gz").delete())
    val ranged = GhArchiveSource.listHours(archiveDir,
      from = Some(LocalDateTime.of(2024, 1, 15, 1, 0)),
      to = Some(LocalDateTime.of(2024, 1, 15, 2, 0)))
    assert(ranged.map(_._2) == Seq("2024-01-15-1"))
  }

  test("read decodes gzip NDJSON, derives the hour column, prunes files") {
    val df = GhArchiveSource.read(spark, archiveDir,
      from = Some(LocalDateTime.of(2024, 1, 15, 0, 0)),
      to = Some(LocalDateTime.of(2024, 1, 15, 2, 0)))
    // only the two in-range files reach the scan
    assert(df.inputFiles.length == 2)
    val rows = df.collect().map(r => (r.getLong(0),
      r.getTimestamp(1).toString,
      r.getAs[java.time.LocalDateTime](2).toString)).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(rows(0)._2 == "2024-01-15 00:10:00.0")
    assert(rows(2)._3 == "2024-01-15T01:00") // hour key (NTZ), not event ts
  }

  test("a malformed record aborts the read (FAILFAST)") {
    val dir = Files.createTempDirectory("graft-gha-bad-").toString
    writeHourFile(dir, "2024-01-15-0",
      Seq("""{"id":1,"created_at":"2024-01-15T00:10:00Z"}""", "{not json"))
    intercept[org.apache.spark.SparkException] {
      GhArchiveSource.read(spark, dir).collect()
    }
  }

  test("end-to-end service analog: hour files → stream → dedup → partitioned archive") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.functions.col
    // the whole reference service (poll → dedup → ClickHouse table) offline:
    // hour-keyed gzip NDJSON in, day-partitioned sorted zstd parquet out
    val dir = Files.createTempDirectory("graft-gha-e2e-").toString
    def ev(id: Long, ts: String) = s"""{"id":$id,"created_at":"$ts"}"""
    writeHourFile(dir, "2024-01-15-0", Seq(
      ev(1, "2024-01-15T00:10:00Z"),
      ev(1, "2024-01-15T00:10:00Z"),   // within-file duplicate
      ev(2, "2024-01-15T00:20:00Z")))
    writeHourFile(dir, "2024-01-16-0", Seq(ev(3, "2024-01-16T00:05:00Z")))
    val out = Files.createTempDirectory("graft-gha-e2e-out-").toString
    val ckpt = Files.createTempDirectory("graft-gha-e2e-ckpt-").toString
    val src = GhArchiveSource.readStream(spark, dir, maxFilesPerTrigger = 1)
    val q = streaming.ArchiveStream.archive(
      src.withColumn("raw", org.apache.spark.sql.functions.to_json(
        org.apache.spark.sql.functions.struct(col("id")))),
      out, ckpt, Trigger.AvailableNow())
    q.awaitTermination(120000)
    val archived = spark.read.parquet(out)
    assert(archived.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // day partitioning materialized as d=... directories
    val parts = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("d="))
    assert(parts.toSet == Set("d=2024-01-15", "d=2024-01-16"))
  }

  test("backfill composition: append(read(range)) keeps one row per (ts, id) in one day shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    import streaming.ArchiveStream
    // what Backfill.main runs between its session start and stop
    val dir = Files.createTempDirectory("graft-gha-backfill-").toString
    def ev(id: Long, ts: String) = s"""{"id":$id,"created_at":"$ts","type":"WatchEvent"}"""
    val repeated = ev(2, "2024-01-15T22:50:00Z")
    writeHourFile(dir, "2024-01-15-22", Seq(ev(1, "2024-01-15T22:10:00Z"), repeated,
      ev(7, "2024-01-15T22:30:00Z")))
    // the repeated line again, byte-identical, in the adjacent hour; id 7
    // again with another created_at: a distinct (ts, id), so a second row
    writeHourFile(dir, "2024-01-15-23", Seq(repeated, ev(3, "2024-01-15T23:20:00Z"),
      ev(7, "2024-01-16T00:05:00Z")))
    writeHourFile(dir, "2024-01-16-0", Seq(ev(4, "2024-01-16T00:40:00Z"),
      ev(3, "2024-01-15T23:20:00Z")))
    writeHourFile(dir, "2024-01-16-1", Seq(ev(5, "2024-01-16T01:15:00Z")))  // out of range
    Files.write(java.nio.file.Paths.get(s"$dir/stray.txt"), "{not an hour}".getBytes("UTF-8"))
    def read() = GhArchiveSource.read(spark, dir,
      from = Some(LocalDateTime.of(2024, 1, 15, 22, 0)),
      to = Some(LocalDateTime.of(2024, 1, 16, 1, 0)))
    val out = Files.createTempDirectory("graft-gha-backfill-out-").toString + "/a"
    ArchiveStream.append(read(), out)

    val stored = spark.read.parquet(out).select(col("ts").cast("string"), col("id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(stored.sorted == Seq(
      ("2024-01-15 22:10:00", 1L), ("2024-01-15 22:30:00", 7L), ("2024-01-15 22:50:00", 2L),
      ("2024-01-15 23:20:00", 3L), ("2024-01-16 00:05:00", 7L), ("2024-01-16 00:40:00", 4L)))
    val days = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(days.toSeq == Seq("d=2024-01-15", "d=2024-01-16"))
    for (day <- days; f <- new java.io.File(s"$out/$day").listFiles()
         if f.getName.endsWith(".parquet")) {
      val rows = spark.read.parquet(f.getPath).select("ts", "id").collect()
        .map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toSeq
      assert(rows == rows.sorted, s"$day/${f.getName} is not sorted by (ts, id)")
    }
    val shuffles = executedNodes(ArchiveStream.byDay(read()))
      .count(_.isInstanceOf[ShuffleExchangeExec])
    assert(shuffles == 1, "the (ts, id) dedup must ride the day exchange")
  }

  test("streaming read paces by maxFilesPerTrigger and reaches all rows") {
    import org.apache.spark.sql.streaming.Trigger
    val q = GhArchiveSource.readStream(spark, archiveDir, maxFilesPerTrigger = 1)
      .writeStream.format("memory").queryName("gha_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val ids = spark.sql("select id from gha_stream")
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L, 4L))
    // AvailableNow + maxFilesPerTrigger=1 → one micro-batch per hour file
    assert(q.recentProgress.map(_.numInputRows).sum == 4)
  }

  test("adaptive pacing controller steers toward the target batch time, damped and clamped") {
    // fast batches (100 ms vs 1 s target) → admit more files, damped to 2x
    assert(GhArchiveSource.adaptedMaxFiles(4, Seq(100L, 100L), 1000L) == 8)
    // slow batches (4 s vs 1 s target) → back off, damped to half
    assert(GhArchiveSource.adaptedMaxFiles(4, Seq(4000L, 4000L), 1000L) == 2)
    // mildly fast → proportional step inside the damping band
    assert(GhArchiveSource.adaptedMaxFiles(4, Seq(800L), 1000L) == 5)
    // floor and cap
    assert(GhArchiveSource.adaptedMaxFiles(1, Seq(60000L), 1000L) == 1)
    assert(GhArchiveSource.adaptedMaxFiles(60, Seq(100L), 1000L) == 64)
    // no observations → rate unchanged
    assert(GhArchiveSource.adaptedMaxFiles(7, Seq.empty, 1000L) == 7)
  }

  test("catch-up drains the backlog, then the paced query resumes with an adapted rate") {
    val out = Files.createTempDirectory("graft-gha-pace-out-").toString
    val ckpt = Files.createTempDirectory("graft-gha-pace-ckpt-").toString
    val (adapted, paced) = GhArchiveSource.catchUpThenPace(
      spark, archiveDir, out, ckpt, targetBatchMs = 60000L)
    try {
      // catch-up (AvailableNow) archived every hour file before returning
      val ids = spark.read.parquet(out).select("id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L, 4L))
      // local batches finish far under the 60 s target → controller opened
      // the throttle (damped to at most 2x the initial rate)
      assert(adapted == 2, s"expected damped 2x step from 1, got $adapted")
      assert(paced.isActive) // steady state resumed from the same checkpoint
    } finally paced.stop()
  }

  test("whole service: catch-up -> paced -> compact(ttl) -> replace-by-key read") {
    // the full reference service lifecycle in one pass: backfill an hour
    // archive (with a replayed duplicate), reach paced steady state, run
    // the periodic merge with retention, and read the canonical table
    val dir = Files.createTempDirectory("graft-gha-svc-").toString
    def ev(id: Long, ts: String) = s"""{"id":$id,"created_at":"$ts"}"""
    writeHourFile(dir, "2024-01-10-0", Seq(ev(1, "2024-01-10T00:10:00Z")))
    writeHourFile(dir, "2024-01-15-0", Seq(
      ev(2, "2024-01-15T00:10:00Z"),
      ev(2, "2024-01-15T00:10:00Z"),   // in-batch duplicate
      ev(3, "2024-01-15T00:20:00Z")))
    writeHourFile(dir, "2024-01-16-0", Seq(ev(4, "2024-01-16T00:05:00Z")))
    val out = Files.createTempDirectory("graft-gha-svc-out-").toString + "/a"
    val ckpt = Files.createTempDirectory("graft-gha-svc-ckpt-").toString
    val (_, paced) = GhArchiveSource.catchUpThenPace(
      spark, dir, out, ckpt, targetBatchMs = 60000L)
    try {
      // merge + retention: 2024-01-10 is older than newest(2024-01-16) - 3d
      val touched = streaming.ArchiveStream.compact(spark, out,
        maxFilesPerPartition = 0, ttlDays = Some(3))
      assert(touched.contains("d=2024-01-10"))
      val canonical = spark.read.parquet(out).dropDuplicates("id")
      assert(canonical.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(2L, 3L, 4L))
      // compacted day dirs hold exactly one file each
      for (d <- Seq("2024-01-15", "2024-01-16"))
        assert(new java.io.File(s"$out/d=$d")
          .listFiles().count(_.getName.endsWith(".parquet")) == 1)
    } finally paced.stop()
  }

  test("streaming read enforces batch/stream parity: invalid-hour artifacts dropped, hour column derived") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("graft-gha-parity-").toString
    def ev(id: Long, ts: String) = s"""{"id":$id,"created_at":"$ts"}"""
    writeHourFile(dir, "2024-01-15-7", Seq(ev(1, "2024-01-15T07:10:00Z")))
    // glob-shaped but NOT a valid hour key — exactly what listHours skips;
    // the keyPattern row filter must drop it from the stream too
    writeHourFile(dir, "2024-01-15-99", Seq(ev(666, "2024-01-15T09:00:00Z")))
    // hour-key shaped, but February has no 30th: skipped and dropped alike
    writeHourFile(dir, "2024-02-30-1", Seq(ev(777, "2024-03-01T01:00:00Z")))
    val q = GhArchiveSource.readStream(spark, dir)
      .writeStream.format("memory").queryName("gha_parity")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.sql("select id, hour from gha_parity").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L))
    // hour column matches the batch read's NTZ calendar-label semantics
    assert(rows.head.getAs[java.time.LocalDateTime]("hour").toString == "2024-01-15T07:00")
    assert(GhArchiveSource.read(spark, dir).select("id", "hour").collect().toSeq == rows.toSeq)
  }

  /** Rows of a decoded hour read as (id, ts, hour), sorted. */
  private def decoded(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, String)] =
    df.collect().map(r => (r.getLong(0), r.getTimestamp(1).toString,
      r.getAs[LocalDateTime](2).toString)).toSeq.sorted

  test("read of 40 hour files lists them on the driver: no listing job, same rows and files") {
    val dir = hourDir(40)
    def run() = {
      val df = GhArchiveSource.read(spark, dir)
      (df.inputFiles.toSeq.sorted, decoded(df))
    }
    val (jobs, driver) = listingJobs(run())
    assert(jobs == 0)
    val (sparkJobs, viaJob) = withConf(listingThreshold -> "1")(listingJobs(run()))
    assert(sparkJobs == 1, "the counter must see Spark's own listing job")
    assert(driver == viaJob)
    assert(driver._1.size == 40 && driver._2.map(_._1) == (0L until 40L))
  }

  test("a readStream AvailableNow batch of 40 hour files runs no listing job, same rows and files") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = hourDir(40)
    def run() = {
      val ckpt = Files.createTempDirectory("graft-gha-many-ckpt-").toString
      val name = s"gha_many_${System.nanoTime}"
      val q = GhArchiveSource.readStream(spark, dir, maxFilesPerTrigger = 100)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(60000))
      assert(q.recentProgress.count(_.numInputRows > 0) == 1, "one batch")
      // the files the batch read, from the source's own log
      val log = new String(Files.readAllBytes(
        java.nio.file.Paths.get(s"$ckpt/sources/0/0")), "UTF-8")
      val files = "\"path\":\"([^\"]+)\"".r.findAllMatchIn(log).map(_.group(1)).toSeq.sorted
      (files, decoded(spark.table(name)))
    }
    val (jobs, driver) = listingJobs(run())
    assert(jobs == 0)
    val (sparkJobs, viaJob) = withConf(listingThreshold -> "1")(listingJobs(run()))
    assert(sparkJobs >= 1, "the counter must see Spark's own listing jobs")
    assert(driver == viaJob)
    assert(driver._1.size == 40 && driver._2.map(_._1) == (0L until 40L))
  }
}

object GhArchiveSourceSpec {
  def writeHourFile(dir: String, key: String, lines: Seq[String]): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(s"$dir/$key.json.gz")), "UTF-8"))
    try lines.foreach { l => w.write(l); w.newLine() } finally w.close()
  }

  /** A new directory of `n` consecutive hour files from 2024-03-01-0 on,
    * holding one event each, with ids 0 until n.
    */
  def hourDir(n: Int): String = {
    val dir = Files.createTempDirectory("graft-gha-many-").toString
    for (i <- 0 until n) {
      val h = LocalDateTime.of(2024, 3, 1, 0, 0).plusHours(i)
      writeHourFile(dir, s"${h.toLocalDate}-${h.getHour}",
        Seq(s"""{"id":$i,"created_at":"${h.plusMinutes(10)}:00Z"}"""))
    }
    dir
  }
}
