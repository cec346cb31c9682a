package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates one entry per implemented operator from SURVEY.md §2;
  * `oracleSql` carries the DuckDB twin for every SQL-expressible one.
  */
object SparkEntry {

  /** Flagship query (SURVEY.md §7.1): the whole archive semantic in one plan —
    * scan → replace-by-key dedup keep-one (C2) → TTL-style retention filter
    * (D3) → daily tumbling count+sum (G2/E9) → ordered by day.
    * Driver smoke-checks rows>0 on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame = {
    val sfDir = "/root/testdata/sf0.001"
    val e = Tables.events(spark, sfDir)
    val w = Window.partitionBy("ts", "event_id").orderBy(col("value").desc)
    val deduped = e.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    streaming.ArchiveStream.applyTtl(deduped)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(Tables.dec(col("value"))).cast(DoubleType).as("sum_value"))
      .orderBy("day")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    operators.PipelineOps.queries ++
    operators.RelationalOps.queries ++
    operators.FunctionOps.queries ++
    operators.WindowOps.queries ++
    operators.DedupOps.queries ++
    operators.SimOps.queries ++
    operators.TextOps.queries ++
    operators.MultimodalOps.queries ++
    operators.SqlOps.queries ++
    operators.EventOps.queries ++
    operators.StatsOps.queries ++
    operators.ComposedOps.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    operators.PipelineOps.oracle ++
    operators.RelationalOps.oracle ++
    operators.FunctionOps.oracle ++
    operators.WindowOps.oracle ++
    operators.DedupOps.oracle ++
    operators.SimOps.oracle ++
    operators.TextOps.oracle ++
    operators.MultimodalOps.oracle ++
    operators.SqlOps.oracle ++
    operators.EventOps.oracle ++
    operators.StatsOps.oracle ++
    operators.ComposedOps.oracle
}
