package graft

/** Plan auditor: prints the formatted physical plan of each named query so
  * shuffle/broadcast/pushdown shape can be reviewed.
  */
object Explain {
  val Usage = "Usage: runMain graft.Explain <sfDir> <name> [name ...]"

  def main(args: Array[String]): Unit = {
    if (args.length < 2) throw new IllegalArgumentException(Usage)
    val sfDir = args(0)
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.drop(1).foreach { n =>
      println(s"\n================ $n ================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
