package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A key that throws
  * is recorded in errors.json (key → message) so a crashed query shows up in
  * the round artifacts as an explicit error, never as silence — round 4's
  * fixture regression was invisible precisely because failures only went to
  * stderr and the driver emitted no row at all for them.
  */
object Verify {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def writeJson(path: String, entries: Iterable[(String, String)]): Unit = {
    val json = entries.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(path), json)
  }

  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [key1,key2,...] — the optional third arg restricts
    // the dump to a comma-separated key subset (dev loop; the driver always
    // calls with two args and gets the full surface).
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.builder()
      // µs parquet timestamps (not INT96) so the driver's DuckDB/pyarrow
      // side reads the same logical type Spark computed (SURVEY.md §7.4.2).
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Effective layout confs, printed so a harness varying them through
    // SPARK_GRAFT_CONF (tools/partition_invariance.py) can positively
    // assert the override reached the session — a hook that silently fell
    // off would make run B equal run A and the invariance gate vacuous.
    System.err.println("[verify] effective shuffle.partitions=" +
      spark.conf.get("spark.sql.shuffle.partitions") +
      " files.maxPartitionBytes=" +
      spark.conf.get("spark.sql.files.maxPartitionBytes"))
    new java.io.File(outDir).mkdirs()
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // Write timestamps as TIMESTAMP_NTZ: the session TZ is UTC, so the
      // wall-clock values equal the instants, and DuckDB reads the same
      // naive TIMESTAMP type its oracle SQL computes (SURVEY.md §7.4.2).
      try {
        val out = fn(spark, sfDir)
        val ntz = out.select(out.schema.fields.map { f =>
          if (f.dataType == TimestampType) col(f.name).cast(TimestampNTZType).as(f.name)
          else col(f.name)
        }.toSeq: _*)
        ntz.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    writeJson(s"$outDir/oracle_sql.json", SparkEntry.oracleSql)
    writeJson(s"$outDir/errors.json", errors)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} key(s) FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
