package graft.streaming

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured-Streaming re-expression of the reference's ingest service
  * (ref: cmd/gh-archived/main.go) — the whole Go program is one streaming
  * plan here:
  *
  *  - poll goroutine + bounded channel (ref: main.go:100-212, 28, 249)
  *      → micro-batch source + trigger interval;
  *  - two-generation id dedup maps (ref: main.go:107,121,153-162,207)
  *      → `withWatermark` + `dropDuplicatesWithinWatermark` (watermark plays
  *        the generation swap: state older than the watermark is evicted);
  *  - columnar native-protocol INSERT into a day-partitioned,
  *    (ts,id)-ordered, ZSTD, 3-day-TTL ReplacingMergeTree
  *    (ref: main.go:39-98, README.md:8-17)
  *      → `foreachBatch` appending date-partitioned, sorted-within-partition,
  *        zstd parquet — at-least-once, with replayed duplicates collapsed
  *        at replace-by-key read time (see `archive`'s contract note).
  *
  * All transforms are expressed on an unbound DataFrame so the SAME functions
  * run in batch mode (where the DuckDB oracle can check them — see
  * operators.WindowOps) and under a streaming source.
  */
object ArchiveStream {

  /** Canonical archive schema (ref: README.md:11-13): id, event ts, raw JSON. */
  val schema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("ts", TimestampType),
    StructField("raw", StringType)))

  /** Parse stage (ref: internal/gh/gh.go:92-125): extract id + created_at
    * from the raw JSON, keep the payload verbatim — schema-on-read, only two
    * fields ever interpreted.
    */
  def parseRaw(raw: DataFrame, col_ : String = "raw"): DataFrame =
    raw.select(
      get_json_object(col(col_), "$.id").cast(LongType).as("id"),
      to_timestamp(get_json_object(col(col_), "$.created_at")).as("ts"),
      col(col_).as("raw"))

  /** Cross-batch exact dedup with bounded state (C1/G1/G5). The 10-minute
    * watermark bounds the dedup state exactly like the reference's
    * two-generation maps bound theirs (ref: cmd/gh-archived/main.go:107,207).
    */
  def dedup(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("id")

  /** The archive layout and its key, stated once (ref: README.md:8-17
    * `PARTITION BY toDate(ts) ORDER BY (ts, id)` of a ReplacingMergeTree):
    * a `d` day column, one shuffle by day, one row per (ts, key) and a
    * (d, ts, key) sort; `key` is `event_id` on the fixture tables. Rows equal
    * on (ts, key) collapse to one, as the reference's merges collapse
    * equal sorting keys. `d` is a function of `ts`, so the day shuffle
    * already clusters every (d, ts, key) group: the dedup aggregates
    * after it, with no second exchange. Rows already unique on the key
    * (a streaming batch after [[dedup]], the fixture tables) pass through.
    * The sort leads with `d`: a `partitionBy("d")` write needs its rows
    * ordered by `d`, and Spark sorts them by `d` alone, dropping a (ts,
    * key) sort below, unless that order is already there.
    */
  def byDay(df: DataFrame, key: String = "id"): DataFrame =
    df.withColumn("d", to_date(col("ts")))
      .repartition(col("d"))
      .dropDuplicates("d", "ts", key)
      .sortWithinPartitions("d", "ts", key)

  /** The archive append of both the streaming sink and the backfill:
    * [[byDay]] (one shuffle, dedup on (ts, id)), then day-partitioned zstd
    * parquet.
    */
  def append(df: DataFrame, outDir: String): Unit =
    byDay(df).write.mode("append")
      .option("compression", "zstd")
      .partitionBy("d")
      .parquet(outDir)

  /** The full service: source → dedup → day-partitioned sorted zstd parquet
    * sink (C5/D1/D2/D5). Checkpointing gives the restart/redial durability the
    * reference gets from ETag + ReplacingMergeTree (ref: main.go:44-52,110).
    *
    * Delivery is AT-LEAST-ONCE, exactly like the reference: a batch replayed
    * after a post-write failure appends duplicate rows, and the read path
    * collapses them by key (replace_by_key, C2/D4) — the ReplacingMergeTree
    * contract (ref: README.md:14; retries lean on it, cmd/gh-load/
    * main.go:257-261). StreamingSpec proves the replay→read round trip.
    *
    * One micro-batch per poll, as the reference does one INSERT per poll:
    * the query runs without Spark's no-data micro-batches, so the dedup
    * eviction rides the next poll's batch, with the same watermark, the
    * way the reference swaps its id generations at the end of a poll
    * (ref: main.go:207). Each first occurrence is still emitted by the
    * batch that reads it. The late-event filter lags one poll: an event
    * later than the 10-minute delay but within the watermark's advance
    * over the previous poll is archived, not dropped (the reference drops
    * no late event). A repeated id is still archived once: an entry is
    * evicted only when its `ts` is behind every later batch's late filter.
    * `compactEvery > 0` runs [[compact]] after every `compactEvery`-th
    * batch, i.e. poll; its crash window adds duplicates under the same
    * contract.
    *
    * Spark reads `spark.sql.streaming.noDataMicroBatches.enabled` from the
    * session it clones inside `start()`. So `archive` turns the key off on
    * `events`' session for that call only and then restores the session's
    * value: windowed and state-timeout queries started in the session keep
    * the no-data batches that emit their closed windows. `archive` calls
    * serialize on one lock; a query that other code starts in the same
    * session at the same instant may still see the key off.
    */
  def archive(events: DataFrame, outDir: String, checkpointDir: String,
              trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
              compactEvery: Int = 0,
              afterWrite: Long => Unit = _ => ()): StreamingQuery = {
    val writer = dedup(events)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        append(batch, outDir)
        // fault-injection seam: runs after the sink append but before the
        // micro-batch commits to the checkpoint — throwing here is exactly
        // a crash in the at-least-once window (StreamingSpec's
        // crash-recovery test), and a no-op in production
        afterWrite(batchId)
        // periodic forced merge, the reference's 60 s OPTIMIZE ticker
        // (ref: cmd/gh-archived/main.go:54-55,74-77): foreachBatch bodies
        // run serially, so compaction never races an append
        if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1) {
          compact(batch.sparkSession, outDir)
          ()
        }
      }
    val conf = events.sparkSession.conf
    noDataBatchesSwitch.synchronized {
      // the explicitly set value, if any, so an unset key is unset again
      val before = conf.getAll.get(NoDataBatches)
      conf.set(NoDataBatches, "false")
      try writer.start()
      finally before.fold(conf.unset(NoDataBatches))(conf.set(NoDataBatches, _))
    }
  }

  private val NoDataBatches = "spark.sql.streaming.noDataMicroBatches.enabled"
  /** Serializes [[archive]]'s set, start and restore of [[NoDataBatches]]. */
  private val noDataBatchesSwitch = new Object

  /** Small-file compaction — the 60 s forced-merge analog (ref:
    * cmd/gh-archived/main.go:54-55,74-77; ClickHouse OPTIMIZE). Every
    * micro-batch appends a few files per day partition, so any real uptime
    * fragments the day directories into thousands of tiny parquet files;
    * this pass rewrites each fragmented partition (more than
    * `maxFilesPerPartition` files) as ~`targetBytesPerFile` files,
    * range-clustered and sorted by (ts, id) — restoring the sorted-scan
    * property (D2) the per-batch appends only hold file-locally.
    *
    * The rewrite preserves the row multiset EXACTLY: at-least-once replay
    * duplicates stay in storage and keep collapsing at replace-by-key read
    * time (the ReplacingMergeTree contract, ref: README.md:14), so reads
    * before and after compaction are identical. Each partition is
    * rewritten by [[appendThenDelete]]: a crash mid-pass leaves some rows
    * twice, never zero times, and the next pass folds the extra copy into
    * its rewrite like any other replay duplicate. Runs serialized with
    * appends (from the foreachBatch hook above, or between jobs); returns
    * the rewritten partition names.
    *
    * `ttlDays`: ClickHouse enforces `TTL ts + INTERVAL n DAY` AT MERGE
    * TIME, dropping whole expired parts (ref: README.md:17) — passing
    * `Some(n)` does the partition-granular analog here: day directories
    * entirely older than (newest day − n) are DELETED, no rewrite, before
    * fragmentation is even considered. "Now" is the newest day present,
    * not the wall clock, so offline replays are deterministic. The NULL-day
    * partition (`d=__HIVE_DEFAULT_PARTITION__`, rows without a `ts`) is
    * never dropped. Dropped partitions are reported alongside rewritten
    * ones. A negative `n` is refused: it would expire every dated day,
    * the newest included.
    */
  def compact(spark: SparkSession, outDir: String,
              maxFilesPerPartition: Int = 4,
              targetBytesPerFile: Long = 128L * 1024 * 1024,
              ttlDays: Option[Int] = None): Seq[String] = {
    ttlDays.foreach(days => require(days >= 0, s"ttlDays must be >= 0 (got $days)"))
    val root = new Path(outDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val allParts = fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("d="))
    val dropped = ttlDays match {
      case Some(days) =>
        // a NULL `ts` lands in `d=__HIVE_DEFAULT_PARTITION__`: its age is
        // unknown, so it neither sets the cutoff nor expires
        val dated = allParts.flatMap(p => scala.util.Try(java.time.LocalDate.parse(
          p.getPath.getName.stripPrefix("d="))).toOption.map(d => (p, d.toEpochDay)))
        val newest = dated.map(_._2).maxOption.getOrElse(0L)
        dated.collect { case (p, day) if day < newest - days =>
          fs.delete(p.getPath, true)
          p.getPath.getName
        }.toSeq
      case None => Seq.empty
    }
    val parts = allParts.filterNot(p => dropped.contains(p.getPath.getName))
    dropped ++ parts.toSeq.flatMap { p =>
      val files = parquetFiles(fs, p.getPath)
      if (files.length <= maxFilesPerPartition) None
      else {
        val bytes = files.map(_.getLen).sum
        val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytesPerFile).toInt)
        appendThenDelete(spark, p.getPath, files, nOut)
        Some(p.getPath.getName)
      }
    }
  }

  private def parquetFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).filter(f => f.isFile && f.getPath.getName.endsWith(".parquet")).toSeq

  /** `compact`'s in-place rewrite: append the rows in `files`, range
    * clustered into `nOut` files and sorted by (ts, id), into `dir`
    * itself, then delete `files` and the write's `_SUCCESS` marker.
    * Nothing is renamed and nothing is deleted before the rewritten copy
    * is committed, so a crash at any point leaves every row readable —
    * between the append and the deletes, twice, which replace-by-key reads
    * collapse like any replay duplicate.
    */
  private def appendThenDelete(spark: SparkSession, dir: Path, files: Seq[FileStatus],
      nOut: Int): Unit = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.Tables.parquet(spark, files.map(_.getPath.toString): _*)
      .repartitionByRange(nOut, col("ts"), col("id"))
      .sortWithinPartitions("ts", "id")
      .write.mode("append").option("compression", "zstd")
      .parquet(dir.toString)
    files.foreach(f => fs.delete(f.getPath, false))
    fs.delete(new Path(dir, "_SUCCESS"), false)
  }

  /** TTL retention (D3, ref: README.md:17 `TTL ts + INTERVAL 3 DAY`): keep
    * rows within `days` of the newest `ts` — a data-driven "now", so
    * replays and every scale agree. The one statement of the filter: the
    * `ttl_filter` key and `SparkEntry.entry` call it.
    */
  def applyTtl(archived: DataFrame, days: Int = 3): DataFrame = {
    val cutoff = archived.agg(max(col("ts")).as("mx"))
    archived.crossJoin(broadcast(cutoff))
      .filter(col("ts") >= col("mx") - expr(s"INTERVAL $days DAYS"))
      .drop("mx")
  }
}
