package graft

import graft.operators.{MultimodalOps, SimOps}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Semantics of the dedup / similarity / multimodal operators, proven on
  * planted duplicates (the driver testdata has none at small scales): a tiny
  * synthetic documents/embeddings pair is written in the same parquet layout
  * and the SAME query closures run against it.
  */
class NorthStarSpec extends SparkSpec {

  private lazy val planted: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-planted-").toString
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 59).map(i => s"tok$i").mkString(" ") + " changed"
    val other = (1 to 60).map(i => s"other$i").mkString(" ")
    Seq(
      (0L, base, "en", "srcA", base.length.toLong),
      (1L, base, "en", "srcB", base.length.toLong),      // exact dup of 0
      (2L, nearDup, "en", "srcC", nearDup.length.toLong), // near dup of 0
      (3L, other, "es", "srcD", other.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val v0 = Array.tabulate(64)(i => math.sin(i + 1).toFloat)
    val v2 = v0.clone(); v2(0) = v0(0) + 0.01f  // ~0.9999 cosine
    val orth = Array.tabulate(64)(i => if (i % 2 == 0) 1.0f else -1.0f)
    val v4 = v0.clone(); v4(1) = v0(1) - 0.01f  // ~0.9999 cosine, DIFFERENT label
    Seq(
      (0L, v0.toSeq, 1), (1L, v0.toSeq, 1),   // exact dup pair
      (2L, v2.toSeq, 1),                        // near dup, same label
      (3L, orth.toSeq, 2),
      (4L, v4.toSeq, 3))                        // near dup of 0 across labels
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def retainedDocs(name: String): Seq[Long] =
    SparkEntry.queries(name)(spark, planted)
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted

  test("dedup_text_exact drops the exact duplicate, keeps min doc_id") {
    assert(retainedDocs("dedup_text_exact") == Seq(0L, 2L, 3L))
  }

  test("dedup_minhash drops exact and near duplicates (J >= 0.7)") {
    assert(retainedDocs("dedup_minhash") == Seq(0L, 3L))
  }

  test("dedup_ngram_jaccard drops exact and near duplicates (J >= 0.8)") {
    // near-dup shares 57 of 58+58-57 shingles: J ~ 0.966
    assert(retainedDocs("dedup_ngram_jaccard") == Seq(0L, 3L))
  }

  test("dedup_simhash drops the exact duplicate (Hamming 0)") {
    val kept = retainedDocs("dedup_simhash")
    assert(!kept.contains(1L) && kept.contains(0L) && kept.contains(3L))
  }

  test("dedup_embedding drops exact, near, and CROSS-LABEL duplicates (cos >= 0.95)") {
    // vec 4 duplicates vec 0 but carries a different label: the LSH
    // candidate key (unlike the round-1 label bucketing) must still
    // propose and drop it — near-dup identity is content, not metadata
    val kept = SparkEntry.queries("dedup_embedding")(spark, planted)
      .select("vec_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(kept == Seq(0L, 3L))
  }

  test("dedup_semantic drops all planted near-dups, keeps one representative per group") {
    // vecs 0/1/2/4 share the 6-bit sign cluster and are pairwise cos>=0.9:
    // one semantic group. The survivor is the member closest to the cluster
    // centroid (6-dp tie -> min vec_id), so exactly one of the group stays;
    // the orthogonal vec 3 is alone in its cluster and untouched.
    val kept = SparkEntry.queries("dedup_semantic")(spark, planted)
      .select("vec_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(kept == Seq(0L, 3L), s"kept=$kept")
  }

  test("sim_topk ranks the exact duplicate first for query 0") {
    val top = SparkEntry.queries("sim_topk")(spark, planted)
      .filter(col("q_id") === 0 && col("rk") === 1)
      .select("vec_id", "cos").head()
    assert(top.getLong(0) == 1L)
    assert(top.getDouble(1) == 1.0)
  }

  test("sim_topk_ivf recalls the exact duplicate for query 0 (same cell)") {
    val top = SparkEntry.queries("sim_topk_ivf")(spark, planted)
      .filter(col("q_id") === 0 && col("rk") === 1)
      .select("vec_id", "cos").head()
    // identical vectors land in the same Voronoi cell, so IVF cannot miss
    assert(top.getLong(0) == 1L)
    assert(top.getDouble(1) == 1.0)
  }

  // Clustered corpus for the IVF recall bound. The driver's embeddings are
  // isotropic random unit vectors (measured max pairwise cosine ~0.51 at
  // sf0.001/sf0.01 — the sqrt(2 ln N / d) extreme-value bound for a uniform
  // sphere), where NO sublinear ANN index can exceed ~probed-fraction
  // recall; that is a property of the data, not the index. Recall is
  // therefore asserted on a corpus with real neighborhood structure: 16
  // tight clusters of 20 unit vectors, queries drawn from the clusters.
  private lazy val clustered: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-clustered-").toString
    val rnd = new scala.util.Random(42)
    def unit(): Array[Double] = {
      val a = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(a.map(x => x * x).sum)
      a.map(_ / n)
    }
    val rows = for {
      c <- 0 until 16
      centroid = unit()
      m <- 0 until 20
    } yield {
      val noise = unit()
      val v = centroid.zip(noise).map { case (x, e) => x + 0.15 * e }
      val n = math.sqrt(v.map(x => x * x).sum)
      ((c * 20 + m).toLong, v.map(x => (x / n).toFloat).toSeq, c)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("sim_topk_ivf recall vs brute force >= 0.95 on clustered corpus") {
    def pairs(name: String): Set[(Long, Long)] =
      SparkEntry.queries(name)(spark, clustered)
        .select("q_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs("sim_topk")
    val approx = pairs("sim_topk_ivf")
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.95, s"IVF recall $recall < 0.95 (nprobe=2 of 16 cells, 5 Lloyd iters)")
  }

  test("lshBucket puts identical vectors in the same bucket") {
    val e = Tables.embeddings(spark, planted)
      .select(col("vec_id"), SimOps.lshBucket(
        transform(col("embedding"), x => x.cast("double"))).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(e(0L) == e(1L))
    assert(e.values.forall(b => b >= 0 && b < 16))
  }

  test("multimodal feature extraction: real PNG/WAV decode, deterministic") {
    val out = SparkEntry.queries("multimodal_features")(spark, planted).collect()
    assert(out.length == 4)
    val again = SparkEntry.queries("multimodal_features")(spark, planted).collect()
    assert(out.toSeq == again.toSeq)
    // doc 0 (even) is a rendered PNG: ImageIO must decode the exact
    // dimensions the renderer drew — 16 + id%32 wide, 12 + id%24 tall,
    // one frame — and byte_len is the real encoded PNG's length
    val png = out.find(_.getLong(0) == 0L).get
    assert(png.getLong(2) == 16L && png.getLong(3) == 12L && png.getLong(4) == 1L)
    val rendered = MultimodalOps.renderMedia(0L, 0L)
    assert(png.getLong(1) == rendered.length.toLong)
    assert(rendered.take(4).sameElements(
      Array[Byte](0x89.toByte, 'P', 'N', 'G')), "payload is real PNG bytes")
    // doc 1 (odd) is a rendered 8 kHz 16-bit mono WAV: the RIFF walk must
    // recover (sample rate, bits, frames = 100 + n_chars % 500)
    val nChars1 = (1 to 60).map(i => s"tok$i").mkString(" ").length.toLong
    val wav = out.find(_.getLong(0) == 1L).get
    assert(wav.getLong(2) == 8000L && wav.getLong(3) == 16L)
    assert(wav.getLong(4) == 100L + nChars1 % 500L)
  }

  test("multimodal pipeline: frame sampling and resize preserve invariants") {
    val out = SparkEntry.queries("multimodal_pipeline")(spark, planted).collect()
    assert(out.length == 4)
    // resize targets 224 wide; kept = ceil(frames/24): 1 for PNG rows,
    // up to ceil(599/24) = 25 for WAV rows
    assert(out.forall(_.getLong(1) == 224L))
    assert(out.forall(r => r.getLong(2) >= 1))
    assert(out.forall(r => r.getLong(3) >= 1 && r.getLong(3) <= 25))
  }

  test("text fingerprint: identical texts agree, different texts differ") {
    val fp = SparkEntry.queries("text_fingerprint")(spark, planted)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(0L) == fp(1L))
    assert(fp(0L) != fp(3L))
  }

  test("multimodal_near_dup pairs every edited re-encode with its original") {
    val pairs = SparkEntry.queries("multimodal_near_dup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val pngIds = Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // every original (img_id = doc_id·2) must pair with its one-pixel-edited
    // variant (doc_id·2 + 1)...
    val expected = pngIds.map(id => (id * 2, id * 2 + 1))
    assert(expected.subsetOf(pairs.toSet),
      s"missing ${(expected -- pairs.toSet).take(5)}")
    // ...and unrelated random images must stay far apart: any extra pair
    // would mean two independent noise images landed within hamming 3
    assert(pairs.toSet == expected, s"spurious pairs: ${(pairs.toSet -- expected).take(5)}")
  }
}
