package graft

/** The reference's two binaries as library entry points (thin mains over
  * the tested pipeline pieces — a reference user's operational surface):
  *
  *  - `graft.Service` ≙ `gh-archived` (ref: cmd/gh-archived/main.go): the
  *    long-running archiver — catch up on the backlog, then poll at an
  *    adapted rate, periodically force-merging small files with TTL
  *    retention, until killed. Every trigger prints its progress as one
  *    JSON line (`streaming.ProgressLine`).
  *  - `graft.Backfill` ≙ `gh-load` (ref: cmd/gh-load/main.go:301-314): a
  *    bounded hour-range load into the same day-partitioned archive.
  */
object Service {
  val Usage = "Usage: runMain graft.Service <archiveDir> <outDir> " +
    "<checkpointDir> [compactEveryNPolls=12] [ttlDays=3]"

  /** Each poll is one micro-batch, so compaction runs after every N-th poll
    * (0: never). The arguments are checked before any query starts: the
    * TTL is applied only in the shutdown hook, where a bad value would
    * surface after the archive had been written.
    */
  def main(args: Array[String]): Unit = {
    if (args.length < 3 || args.length > 5) throw new IllegalArgumentException(Usage)
    val Array(archiveDir, outDir, ckptDir, rest @ _*) = args
    val compactEvery = rest.headOption.map(_.toInt).getOrElse(12)
    val ttlDays = rest.lift(1).map(_.toInt).getOrElse(3)
    require(compactEvery >= 0, s"compactEveryNPolls must be >= 0 (got $compactEvery)")
    require(ttlDays >= 0, s"ttlDays must be >= 0 (got $ttlDays)")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.streams.addListener(new streaming.ProgressLine)
    val (rate, q) = sources.GhArchiveSource.catchUpThenPace(
      spark, archiveDir, outDir, ckptDir, compactEvery = compactEvery)
    println(s"[graft.Service] caught up; paced at $rate files/trigger, " +
      s"compacting every $compactEvery polls, TTL $ttlDays days")
    sys.addShutdownHook {
      q.stop()
      streaming.ArchiveStream.compact(spark, outDir, ttlDays = Some(ttlDays))
      ()
    }
    q.awaitTermination()
  }
}

/** Bounded hour-range backfill (ref: cmd/gh-load/main.go): list only the
  * in-range hour files, decode, and append them through
  * `ArchiveStream.append`, the service's own sink: one shuffle by day, in
  * which rows equal on the archive key (ts, id) collapse to one, then the
  * day-partitioned (ts, id)-sorted zstd layout.
  */
object Backfill {
  val Usage = "Usage: runMain graft.Backfill <archiveDir> <outDir> " +
    "<fromHour e.g. 2024-01-15-0> <toHourExclusive>"

  def main(args: Array[String]): Unit = {
    if (args.length != 4) throw new IllegalArgumentException(Usage)
    val Array(archiveDir, outDir, from, to) = args
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    streaming.ArchiveStream.append(sources.GhArchiveSource.read(spark, archiveDir,
      from = Some(sources.GhArchiveSource.parseHourKey(from)),
      to = Some(sources.GhArchiveSource.parseHourKey(to))), outDir)
    println(s"[graft.Backfill] loaded hours [$from, $to) into $outDir")
    spark.stop()
  }
}
