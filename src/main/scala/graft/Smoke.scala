package graft

/** Dev smoke: the driver's t1 check — SparkEntry.entry rows > 0 on sf0.001. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    df.show(40, truncate = false)
    println(s"SMOKE entry rows=${df.count()}")
    spark.stop()
  }
}
