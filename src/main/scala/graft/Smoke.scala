package graft

/** Dev smoke: the driver's t1 check — SparkEntry.entry rows > 0 on sf0.001. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    df.show(40, truncate = false)
    println(s"SMOKE entry rows=${df.count()}")
    spark.stop()
  }
}
