package graft.operators

import org.apache.spark.sql.{DataFrame, GraftSqlShim}

/** DataFrame-level entry point for the plan-level as-of join
  * (graft.plans.AsOfJoin — see its Scaladoc for semantics and the scale
  * contract; planned as the merge operator graft.plans.AsOfJoinExec).
  * `probe`/`build` ts columns must already be TimestampType; build columns
  * other than the key must not collide with probe names.
  */
object AsOf {
  def join(probe: DataFrame, build: DataFrame, key: String,
           probeTs: String, buildTs: String, buildTie: String,
           direction: String = graft.plans.AsOfJoin.Backward,
           toleranceMicros: Option[Long] = None): DataFrame = {
    val node = graft.plans.AsOfJoin.build(
      probe.queryExecution.analyzed, build.queryExecution.analyzed,
      key, probeTs, buildTs, buildTie, direction, toleranceMicros)
    GraftSqlShim.ofRows(probe.sparkSession, node)
  }
}

/** DataFrame-level entry point for the plan-level banded range join
  * (graft.plans.BandedRangeJoin — see its Scaladoc for semantics and the
  * scale contract). `ts`/`lo`/`hi` must already be TimestampType; interval
  * columns other than the key must not collide with point-side names.
  */
object RangeJoin {
  def join(points: DataFrame, intervals: DataFrame, ts: String,
           lo: String, hi: String, bandMicros: Long,
           key: Option[String] = None): DataFrame = {
    val node = graft.plans.BandedRangeJoin.build(
      points.queryExecution.analyzed, intervals.queryExecution.analyzed,
      ts, lo, hi, bandMicros, key)
    GraftSqlShim.ofRows(points.sparkSession, node)
  }
}
