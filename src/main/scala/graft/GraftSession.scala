package graft

import org.apache.spark.sql.SparkSession

/** Canonical session construction for the engine's entry points
  * (Verify / Bench / Smoke / tests).
  *
  * Engine-required confs live HERE, at session build time, not inside query
  * builders: a builder mutating `spark.conf` mid-plan is a footgun the moment
  * two queries run concurrently in one session (one query's setting races
  * another's read). Every conf below is documented at its point of need:
  *
  *  - `nanosAsLong`: `events.ts` shipped as parquet TIMESTAMP(NANOS) through
  *    round 3, which Spark 4 refuses to read as a timestamp; with this conf
  *    it reads as raw long nanos and `Tables.events` truncates to µs. The
  *    round-4 testdata generation switched to TIMESTAMP(MICROS) — the conf
  *    stays so BOTH encodings load, and `Tables.events` dispatches on the
  *    loaded dtype (SURVEY.md §7.4.2, FIXTURES.md).
  *  - `objectHashAggregate.sortBased.fallbackThreshold`: ObjectHashAggregate
  *    (the TypedImperativeAggregate executor behind
  *    `functions.MinHashSignature`) falls back to sort-based aggregation
  *    after 128 groups/partition — a default sized for unbounded buffers
  *    (collect_list). The MinHash sketch buffer is a fixed 512 B, so 100k
  *    in-memory groups cost ~50 MB per task: keep the hash path, never pay
  *    a posting sort (measured 9 s -> 0.8 s on dedup_minhash).
  *  - `fs.file.impl` / `fs.AbstractFileSystem.file.impl`: Hadoop's local
  *    filesystem, without `libhadoop.so`, forks a `chmod` process for every
  *    file it creates and a `readlink` process for every `FileContext`
  *    rename. One run of perfbench's `ingest` workload (a 96k-row dedup
  *    state, 5 s of polls) started 2,051 such processes: 1,524 for
  *    state-store delta and checksum files, 366 for the offsets and commits
  *    logs, 128 for parquet job commits, 33 for checkpoint metadata; its
  *    `backfill` started 64 and `query` 99. With the two classes below it
  *    starts none. [[NioLocalFileSystem]] and [[NioLocalFs]] do the same
  *    two things through NIO; the first key serves `FileSystem.get`, the
  *    second `FileContext`, which Spark's checkpoint file manager uses.
  *    Checksum files and atomic renames are unchanged. `FileSystem.get`
  *    caches the first `file:` instance a JVM creates, so a session must be
  *    built here before anything else touches the local filesystem.
  *  - `parallelPartitionDiscovery.threshold`: a file reader given more than
  *    this many paths or subdirectories (default 32) lists them in a Spark
  *    job with one task per path, described "Listing leaf files and
  *    directories for N paths". The job pays off when executors on other
  *    hosts list in parallel. Every session here is `local[N]`, so it runs
  *    on the driver's own N cores and still pays a task launch and a
  *    deserialization of the session's Hadoop `Configuration` (~1,100
  *    properties, ~113 KB) per path: it can never beat the driver listing
  *    each path itself. Measured on 4 cores: perfbench's `backfill` hands
  *    `spark.read.json` 72 hour files, and the job (72 tasks) took
  *    270–350 ms of a warm 1.2–1.5 s `Backfill.main` call; a `readStream`
  *    catch-up batch over the same files ran 3 such jobs, and an archive
  *    read over 40 `d=` dirs or a compaction of a 40-file day one each.
  *    With the threshold at `Int.MaxValue` none of them runs.
  *
  * Not here: `spark.sql.streaming.noDataMicroBatches.enabled`. The archive
  * query runs without no-data micro-batches (one batch per poll), but the
  * windowed, session-window and state-timeout queries need theirs to emit
  * closed windows, so `streaming.ArchiveStream.archive` turns the key off
  * only for the query it starts (Spark reads it when the query is
  * constructed) and restores the session's value.
  */
object GraftSession {
  val tuning: Seq[(String, String)] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // bucketed-table demo (join_bucketed) writes through the catalog;
    // keep the warehouse out of the repo working tree
    "spark.sql.warehouse.dir" ->
      s"${System.getProperty("java.io.tmpdir")}/graft-warehouse",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "100000",
    // Spark 4's recursive-CTE guard rail defaults to 1M TOTAL rows across
    // all iterations — a per-QUERY safety net, not a scale limit, and the
    // round-6 sf1 ramp tripped it: sql_recursive's ancestor walk emits
    // |customer| × ~12 depth rows (1.65M at sf1, growing linearly with
    // data). 100M keeps the runaway-recursion protection (the LEVEL limit
    // still applies) while letting row volume scale with the input; at
    // cluster scale this is the conf a deployment sizes alongside
    // shuffle.partitions. Both limits are enforced by whichever exec runs
    // the loop: plans.RowLocalUnionLoopExec (row-local steps such as
    // sql_recursive's) checks them on a per-depth row count before it
    // emits a row, Spark's UnionLoopExec (every other recursion) per level.
    "spark.sql.cteRecursionRowLimit" -> "100000000",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName,
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> Int.MaxValue.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** Deployment-style conf overrides from the environment — the local-mode
    * analog of spark-defaults.conf: `SPARK_GRAFT_CONF="k=v;k=v"` is applied
    * LAST, so a harness (or a real deployment) can vary shuffle partition
    * counts, input split sizes, AQE, etc. without code changes. The
    * partition-invariance gate (tools/partition_invariance.py) drives
    * Verify through this hook under adversarial partitioning and requires
    * byte-identical results — the "1000 executors give the same answer"
    * property as a harness, not a claim.
    */
  private def envConf: Seq[(String, String)] =
    sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(_.split(";")).flatMap {
      kv => kv.split("=", 2) match {
        // trim BEFORE the guard: a malformed entry like " =v" must be
        // skipped, not applied as an empty-key conf (ADVICE r8)
        case Array(k, v) if k.trim.nonEmpty => Some(k.trim -> v.trim)
        case _ => None
      }
    }

  /** local[cpus] builder with the engine confs applied; callers add their
    * surface-specific confs (output timestamp type, app name) on top.
    *
    * `cpus` defaults to `SPARK_GRAFT_CPUS`, else 8: measured with
    * `graft.Bench` at sf0.1 over the full suite — 4 cpus: ~48 s, 8: ~45 s,
    * 32: ~52 s. Beyond 8, per-task scheduling overhead beats added
    * parallelism on 600k-row partitions; at real scale the parallelism
    * comes from the cluster, not this local knob.
    */
  def builder(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")): SparkSession.Builder =
    (tuning ++ envConf).foldLeft(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)) {
      case (b, (k, v)) => b.config(k, v)
    }
}
