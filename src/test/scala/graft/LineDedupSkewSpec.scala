package graft

/** The hot-line-key skew answer for line-level dedup (VERDICT r6 ask #4):
  * `pipeline_line_dedup_salted` replaces the rank-1 window (whose hot
  * boilerplate key a window CANNOT split across tasks) with the associative
  * min formulation, where Spark's partial aggregation is the salted phase 1
  * (each map task emits at most one candidate per line) and the final
  * aggregate is phase 2. These tests pin: row-identical outputs on the
  * shipped corpus AND on a corpus with a planted 10%-frequency boilerplate
  * line, plus the plan shapes (window vs partial-min aggregate). The
  * measured straggler before/after at sf1 lives in the §8 ledger
  * (tools/scale_ramp hot-line experiment).
  */
class LineDedupSkewSpec extends SparkSpec {

  private def run(key: String, dir: String): Seq[Seq[Any]] =
    operators.TextOps.queries(key)(spark, dir).collect().toSeq.map(_.toSeq)

  test("salted aggregate keep-first == rank-1 window, shipped corpus") {
    assert(run("pipeline_line_dedup_salted", sf) == run("pipeline_line_dedup", sf))
  }

  test("salted == window on a corpus with a 10%-hot boilerplate line") {
    import spark.implicits._
    val boiler = (1 to 12).map(i => s"boiler$i").mkString(" ")
    val rnd = new scala.util.Random(7)
    // 10% of docs START with the same 12-token line (line-aligned at
    // off=0, the GenScale hotline= construction); bodies are random enough
    // that some short lines repeat across docs too (keeper ties exercised)
    val docs = (0L until 500L).map { id =>
      val body = (0 until 24 + rnd.nextInt(48))
        .map(_ => s"w${rnd.nextInt(120)}").mkString(" ")
      (id, if (id % 10 == 0) boiler + " " + body else body)
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-hotline-").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val salted = run("pipeline_line_dedup_salted", dir)
    assert(salted == run("pipeline_line_dedup", dir))
    // keep-first sanity on the hot key: doc 0 holds the planted line's
    // keeper; every later hot doc lost exactly that one line
    val byDoc = salted.map(r => r.head.asInstanceOf[Long] -> r).toMap
    assert(byDoc(0L)(2) == byDoc(0L)(1),
      "doc 0 keeps all its lines (it is first for every line it contains)")
    val later = byDoc(490L)
    assert(later(1).asInstanceOf[Long] - later(2).asInstanceOf[Long] >= 1L,
      s"a later hot doc must lose at least the boilerplate line: $later")
  }

  test("pack-contract guard: a >= 2^20-token doc raises a named error, never a wrong answer") {
    import spark.implicits._
    // ADVICE r7 #1: the packed (doc_id, off) min is lexicographic only
    // while off < 2^20. An out-of-contract monster doc must FAIL LOUDLY
    // (raise_error with the doc_id in the message), mirroring the
    // BandedRangeJoin.MaxBandsPerInterval guard for the analogous hazard.
    val monster = (0 until (1 << 20)).map(i => "t" + (i % 97)).mkString(" ")
    val docs = Seq((1L, "a tiny in-contract document"), (2L, monster))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-monster-").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[Exception] {
      run("pipeline_line_dedup_salted", dir)
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(m => m.contains("pipeline_line_dedup_salted") &&
      m.contains("doc_id=2")), s"expected the named pack-guard error, got: $e")
    // and in-contract corpora are untouched by the guard
    assert(run("pipeline_line_dedup_salted", sf) == run("pipeline_line_dedup", sf))
  }

  test("plan shapes: window key windows, salted key is pure partial/final aggregation") {
    val pw = operators.TextOps.queries("pipeline_line_dedup")(spark, sf)
      .queryExecution.executedPlan.toString
    val ps = operators.TextOps.queries("pipeline_line_dedup_salted")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(pw.contains("Window"), "fixture sanity: the original key IS the window shape")
    assert(!ps.contains("Window"),
      "the salted key must not contain a window:\n" + ps.take(1500))
    assert(ps.contains("partial_min"),
      "phase 1 (map-side candidate per line per task) must be a partial_min:\n" +
        ps.take(1500))
  }
}
