package graft

import graft.operators.DedupOps

/** The corpus-adaptive simhash candidate index (VERDICT r8 ask #3): the
  * Hamming<=3 pair set must be IDENTICAL under every block layout — B=4
  * (4 x 16-bit single bands), B=6 (20 x 3-block ~32-bit keys), B=8
  * (56 x 5-block 40-bit keys) — and must equal the brute-force all-pairs
  * truth. The layout only moves candidate-generation cost; a layout that
  * changes the verified pair set is a completeness bug.
  */
class SimHashScaleSpec extends SparkSpec {

  /** Deterministic signature corpus with planted structure: random base
    * signatures, near-dup copies at Hamming 1..3 (must pair), and decoys
    * at Hamming 4..8 (must NOT pair). Negative longs included — the block
    * extraction masks arithmetic shiftright's sign fill.
    */
  private lazy val corpus: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    def flip(sig: Long, k: Int): Long = {
      var s = sig
      var left = k
      val seen = scala.collection.mutable.Set.empty[Int]
      while (left > 0) {
        val b = rnd.nextInt(64)
        if (seen.add(b)) { s ^= (1L << b); left -= 1 }
      }
      s
    }
    val base = Seq.fill(60)(rnd.nextLong())
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    base.zipWithIndex.foreach { case (sig, i) =>
      rows += ((i.toLong, sig))
      if (i % 3 == 0) rows += ((1000L + i, flip(sig, 1 + i % 3))) // <=3: pair
      if (i % 3 == 1) rows += ((2000L + i, flip(sig, 4 + i % 5))) // >3: decoy
    }
    rows.toSeq
  }

  private def bruteTruth: Set[(Long, Long)] =
    (for {
      (ida, sa) <- corpus
      (idb, sb) <- corpus
      if ida < idb && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ida, idb)).toSet

  private def pairsUnder(blocks: Option[Int]): Set[(Long, Long)] = {
    import spark.implicits._
    blocks.foreach(b => spark.conf.set("graft.simhash.blocks", b.toString))
    try {
      val sim = corpus.toDF("doc_id", "sig")
      DedupOps.simhashNearDupPairs(sim)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    } finally spark.conf.unset("graft.simhash.blocks")
  }

  test("every block layout yields the exact brute-force Hamming<=3 pair set") {
    val truth = bruteTruth
    assert(truth.nonEmpty, "fixture must plant at least one qualifying pair")
    for (b <- Seq(4, 6, 8)) {
      assert(pairsUnder(Some(b)) == truth, s"blocks=$b diverged from truth")
    }
    // adaptive default (tiny corpus -> B=4) agrees too
    assert(pairsUnder(None) == truth)
  }

  test("corpus-size hint derives the layout without an eager count job") {
    // ADVICE r9 #5: plan-only callers avoid the plan-build count() by
    // passing a corpus-size hint; the derived layout must agree with the
    // counted one (hint 60 docs -> B=4, hint 1e6 -> B=6 — both layouts
    // are already pinned identical to brute force above, so the contract
    // here is just that the hint path selects and runs)
    import spark.implicits._
    val truth = bruteTruth
    for (hint <- Seq("120", "1000000")) {
      spark.conf.set("graft.simhash.corpusHint", hint)
      try {
        val sim = corpus.toDF("doc_id", "sig")
        val got = DedupOps.simhashNearDupPairs(sim)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got == truth, s"corpusHint=$hint diverged from truth")
      } finally spark.conf.unset("graft.simhash.corpusHint")
    }
  }

  test("unsupported block count is rejected with a named error") {
    val e = intercept[IllegalArgumentException](pairsUnder(Some(5)))
    assert(e.getMessage.contains("graft.simhash.blocks"))
  }

  test("planted-copy recall stays 1 under the scale layouts (B=6, B=8)") {
    // the oracle-paired contract key, forced onto each wide layout: exact
    // copies are Hamming 0, so every block combination collides — a miss
    // under any layout is a candidate-generation bug, not bad luck
    for (b <- Seq(6, 8)) {
      spark.conf.set("graft.simhash.blocks", b.toString)
      try {
        val out = SparkEntry.queries("dedup_simhash_planted")(spark, sf)
          .collect()
        assert(out.nonEmpty)
        assert(out.forall(_.getBoolean(1)),
          s"blocks=$b missed a planted exact copy")
      } finally spark.conf.unset("graft.simhash.blocks")
    }
  }
}
