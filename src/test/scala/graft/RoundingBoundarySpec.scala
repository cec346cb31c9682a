package graft

import java.sql.Timestamp

/** The r7 sweep lesson as a REGRESSION CLASS, not a memory (VERDICT r7 ask
  * #4): when a rounded output is a RATIONAL of the data's exact integers
  * (cents, counts), the true value can land EXACTLY on a 6-dp half, where
  * `round(double, 6)` is engine-dependent (Spark BigDecimal-on-the-double
  * vs DuckDB multiply-then-round disagree on the very same double). These
  * fixtures plant such cells deliberately — constructions where the
  * binary double sits BELOW the true half, so any code path that rounds
  * the double (the pre-r7 event_interpolate, the pre-r8 agg_stats /
  * kept_frac sites) produces x.xxxxx2 instead of the mathematically
  * correct half-up x.xxxxx3 and FAILS here. The fixed sites round in
  * integer space — round6(p/q) = (2p·10⁶ + q) div (2q) — and must equal
  * the BigInt-exact expectation regardless of scale or engine.
  *
  * Constructions (verified against exact Decimal arithmetic offline):
  *  - hourly cents 32033 over 32 events: avg·10⁶ = 32033·10⁴/32 =
  *    10010312.5, an exact half whose double is ~5e-10 BELOW;
  *  - kept 3 (or 323) of 640 twelve-token lines: frac·10⁶ = k·1562.5,
  *    exact halves whose doubles are BELOW for these k.
  *
  * GenScale's `halfcell=` knob plants the same hourly construction at any
  * decade, so ramp sweeps exercise every value-average site cross-engine.
  */
class RoundingBoundarySpec extends SparkSpec {

  /** exact half-up round to 6 dp of p/q, in integer space */
  private def round6(p: Long, q: Long): Double =
    ((BigInt(2) * p * 1000000 + q) / (BigInt(2) * q)).toDouble / 1e6

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** events: one type, two known hours (32 events, cents 32033 each), one
    * empty hour between them — the known-cell average AND the midpoint
    * interpolation both land on the exact half 10010312.5e-6.
    */
  private lazy val eventsDir: String = {
    import spark.implicits._
    val rows = for (hr <- Seq(0, 2); e <- 0 until 32) yield (
      (hr * 32 + e).toLong,
      new Timestamp(Timestamp.valueOf("2024-03-01 00:00:00").getTime +
        hr * 3600000L + e * 1000L),
      e.toLong,
      "a",
      if (e == 0) 10.02 else 10.01,
      """{"k": 1}""")
    val dir = tmp("graft-halfcell-")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  /** documents: doc 0 has 640 distinct 12-token lines; doc 1 shares its
    * first `640 - k` lines (line-aligned) and keeps k unique ones.
    */
  private def docsDir(k: Int): String = {
    import spark.implicits._
    def line(tag: String, i: Int) = (0 until 12).map(t => s"$tag${i}x$t").mkString(" ")
    val d0 = (0 until 640).map(line("a", _)).mkString(" ")
    val d1 = ((0 until (640 - k)).map(line("a", _)) ++
      (0 until k).map(line("b", _))).mkString(" ")
    val dir = tmp("graft-halfline-")
    Seq((0L, d0, "en", "web", d0.length), (1L, d1, "en", "web", d1.length))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("event_interpolate: planted exact-half known AND interpolated cells round half-up") {
    val out = operators.EventOps.queries("event_interpolate")(spark, eventsDir)
      .orderBy("hr").collect()
    assert(out.length == 3)
    val expect = round6(32033, 3200)
    assert(expect == 10.010313, s"fixture sanity: $expect")
    assert(out(0).getDouble(2) == expect, s"known v: ${out(0)}")
    assert(out(1).getDouble(3) == expect, s"midpoint interp: ${out(1)}")
    assert(out(2).getDouble(2) == expect, s"known v: ${out(2)}")
  }

  test("agg_stats: planted exact-half group average rounds half-up") {
    val out = operators.RelationalOps.queries("agg_stats")(spark, eventsDir).collect()
    assert(out.length == 1 && out(0).getLong(1) == 64L)
    assert(out(0).getDouble(2) == round6(64066, 6400), s"avg_value: ${out(0)}")
  }

  test("line-dedup kept_frac: planted exact-half fraction rounds half-up, both twins") {
    val dir = docsDir(3)
    val expect = round6(3, 640)
    assert(expect == 0.004688, s"fixture sanity: $expect")
    for (key <- Seq("pipeline_line_dedup", "pipeline_line_dedup_salted")) {
      val by = operators.TextOps.queries(key)(spark, dir)
        .collect().map(r => r.getLong(0) -> r).toMap
      assert(by(1L).getLong(1) == 640L && by(1L).getLong(2) == 3L, s"$key: ${by(1L)}")
      assert(by(1L).getDouble(3) == expect, s"$key kept_frac: ${by(1L)}")
    }
  }

  test("pipeline_end_to_end kept_frac: half-cell doc above the keep gate rounds half-up") {
    val dir = docsDir(323) // 2·323 >= 640 so doc 1 passes the kf >= 0.5 gate
    val out = operators.TextOps.queries("pipeline_end_to_end")(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.contains(1L), s"doc 1 must survive the gates: ${out.keySet}")
    val kf = out(1L).getAs[Double]("kept_frac")
    assert(kf == round6(323, 640), s"kept_frac: $kf")
  }
}
