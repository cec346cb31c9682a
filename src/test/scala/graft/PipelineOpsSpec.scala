package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Unit coverage for PipelineOps' write-layout helper on inputs the
  * fixtures do not produce.
  */
class PipelineOpsSpec extends SparkSpec {

  private def floorPartitions(df: DataFrame): Int =
    PipelineOps.parallelFloor(spark, df).queryExecution.logical
      .collectFirst { case r: Repartition => r.numPartitions }.get

  test("parallelFloor: a LogicalRDD with no statistics falls back to defaultParallelism") {
    // a LogicalRDD reports spark.sql.defaultSizeInBytes (Long.MaxValue), the
    // "unknown" sentinel — it must not be read as a 2^63-byte input
    val rdd = spark.sparkContext.parallelize(1L to 100L).map(Row(_))
    val df = spark.createDataFrame(rdd, StructType(Seq(StructField("v", LongType))))
    assert(floorPartitions(df) == spark.sparkContext.defaultParallelism)
  }
}
