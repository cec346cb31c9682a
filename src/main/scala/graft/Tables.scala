package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}

/** Loaders for the driver-generated testdata tables (TESTDATA.md, FIXTURES.md).
  *
  * Every `SparkEntry.queries` entry reads through here so paths always stay
  * `$sfDir/<table>.parquet` (SURVEY.md §7.4.6) and column pruning / predicate
  * pushdown reach the parquet scan untouched.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** `spark.read.parquet(paths)` without Spark's schema-inference job: with
    * `mergeSchema` off Spark reads the schema from ONE footer, in a
    * one-task job on every read. Here the driver reads that same footer
    * and hands the schema to the reader. The file is the one Spark picks
    * (`ParquetUtils.inferSchema`): a root's `_common_metadata`, else its
    * `_metadata`, else the first data file in path order, hidden names
    * skipped; the conversion is Spark's own, under the session's conf
    * (`nanosAsLong`, NTZ inference). Partition columns are still inferred
    * from the directory names. With no data file, or `mergeSchema` on,
    * this is `spark.read.parquet`, so Spark's own schema and errors stand.
    */
  def parquet(spark: SparkSession, paths: String*): DataFrame = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    if (state.conf.isParquetSchemaMergingEnabled) spark.read.parquet(paths: _*)
    else {
      val conf = state.newHadoopConf()
      footerFile(conf, paths) match {
        case Some(f) =>
          val footer = ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
          val schema = ParquetFileFormat.readSchemaFromFooter(
            new Footer(f.getPath, footer), new ParquetToSparkSchemaConverter(state.conf))
          spark.read.schema(schema).parquet(paths: _*)
        case None => spark.read.parquet(paths: _*)
      }
    }
  }

  /** The file whose footer Spark's schema inference reads for `paths`.
    * Directories are descended in path order and only as deep as the first
    * data file, so a day-partitioned archive lists one day dir, not all.
    */
  private def footerFile(conf: org.apache.hadoop.conf.Configuration,
      paths: Seq[String]): Option[FileStatus] = {
    val roots = paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      scala.util.Try(fs.getFileStatus(fs.makeQualified(path))).toOption
    }
    def visible(dir: Path): Seq[FileStatus] =
      dir.getFileSystem(conf).listStatus(dir).toSeq
        .filterNot(s => GraftSqlShim.hiddenPathName(s.getPath.getName))
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    // a child's path is its dir's plus "/name", and every path below a
    // child dir starts with "name/": sorting on that key is path order
    def firstData(kids: Seq[FileStatus]): Option[FileStatus] =
      kids.filterNot(s => s.isFile && summaries.contains(s.getPath.getName))
        .sortBy(s => if (s.isDirectory) s.getPath.getName + "/" else s.getPath.getName)
        .iterator
        .flatMap(s => if (s.isDirectory) firstData(visible(s.getPath)) else Some(s))
        .nextOption()
    val listed = roots.map(r => if (r.isDirectory) visible(r.getPath) else Seq(r))
    def first(found: Seq[FileStatus]) = found.minByOption(_.getPath.toString)
    summaries.iterator
      .flatMap(name => first(listed.flatten.filter(s => s.isFile && s.getPath.getName == name)))
      .nextOption()
      .orElse(first(listed.flatMap(firstData)))
  }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** `events.ts` has shipped under two parquet encodings across testdata
    * generations: TIMESTAMP(NANOS) (which Spark 4 only reads via the
    * `nanosAsLong` conf, set by `GraftSession` — never here: query builders
    * must not mutate shared session state) and TIMESTAMP(MICROS, NTZ).
    * Dispatch on the dtype Spark actually loaded so both generations work:
    *   - LongType          → nanos-as-long; truncate to µs, matching what
    *                         DuckDB does on its side of the oracle compare
    *                         (SURVEY.md §7.4.2)
    *   - TimestampNTZType  → cast to TimestampType; under the UTC session
    *                         timezone (`GraftSession`) this is the identical
    *                         wall-clock instant, and downstream operators all
    *                         assume the LTZ type
    *   - TimestampType     → already what we want; pass through
    * Any other dtype fails loudly — a new fixture encoding must be handled
    * here, in one place, not discovered as 100+ broken query keys.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported parquet-loaded type $other; extend Tables.events dispatch")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Exact 2-dp money arithmetic: the testdata doubles are exact 2-decimal
    * values (FIXTURES.md), so this cast is lossless and makes sums
    * order-independent — required for bit-exact DuckDB oracle parity
    * (SURVEY.md §5.2 determinism rules). Final aggregates are cast back to
    * double so the output schema matches DuckDB's `CAST(... AS DOUBLE)`.
    */
  def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** Overflow-safe Knuth multiplicative split hash: `(id % 2³¹)·K % m`.
    * `id·K` alone overflows Long once id > ~3.46e9 — ANSI Spark (and
    * DuckDB) ERROR instead of wrapping, which the sf10 ramp hit on every
    * split/sample key. The `% 2³¹` pre-reduction keeps the product under
    * 2⁶³ and is the identity for every id below 2³¹, so all existing
    * driver-gate values are unchanged. Every Spark split/sample/bucket
    * site routes through this ONE definition; the oracle twin is the
    * literal SQL `((x % 2147483648) * 2654435761) % m`.
    *
    * Precondition: ids must be NON-NEGATIVE (ADVICE r6 #4). This side uses
    * `pmod` (always >= 0) while the SQL twin uses `%` with DuckDB's
    * sign-of-dividend semantics — the two definitions agree for every
    * id >= 0 (all engine tables and every GenScale expansion mint
    * non-negative ids) and would diverge for negative ids.
    */
  def splitHash(c: Column, m: Long): Column = {
    import org.apache.spark.sql.functions.{lit, pmod}
    pmod(pmod(c, lit(2147483648L)) * 2654435761L, lit(m))
  }

  /** Negative-zero normalizer for rounded double outputs. `round(x, 6)` of a
    * tiny negative value yields IEEE `-0.0`, which bit-compares (and so
    * driver-hash-compares) unequal to `+0.0` even though `==` says equal —
    * and Spark and DuckDB can land on opposite signs from summation-order
    * ulps. `-0.0 + 0.0 = +0.0` under IEEE 754, so adding literal zero after
    * rounding canonicalizes the sign on any engine. Every rounded output
    * column that can sit at zero (differences, z/t statistics, covariances,
    * log-ratios) must pass through here, with a matching `+ 0` in the oracle
    * SQL.
    */
  def nz(c: Column): Column = c + org.apache.spark.sql.functions.lit(0.0)
}
