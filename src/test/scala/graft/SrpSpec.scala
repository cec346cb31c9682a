package graft

import graft.functions.SrpBandKeys
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._

/** The codegen'd SRP band-key expression: generated loop ≡ interpreted
  * reference, determinism, and the banding behavior dedup_embedding's
  * candidate recall rests on.
  */
class SrpSpec extends SparkSpec {

  private def keysOf(vs: Seq[Seq[Double]]): Seq[Seq[Long]] = {
    import spark.implicits._
    vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
      .select(col("id"), graft.functions.api.srpBandKeys(col("v")).as("bk"))
      .orderBy("id").collect().map(_.getSeq[Long](1).toSeq).toSeq
  }

  test("codegen output equals the interpreted reference loop") {
    val rnd = new scala.util.Random(7)
    val vs = Seq.fill(20)(Seq.fill(64)(rnd.nextGaussian()))
    val fromSpark = keysOf(vs)
    val reference = vs.map(v =>
      SrpBandKeys.compute(new GenericArrayData(v.toArray)).toSeq)
    assert(fromSpark == reference)
  }

  test("identical vectors collide on every band; near-dups share a band") {
    val rnd = new scala.util.Random(11)
    val v = Seq.fill(64)(rnd.nextGaussian())
    val near = v.updated(0, v.head + 0.01) // cosine ~0.9999
    val Seq(k1, k2, k3) = keysOf(Seq(v, v, near))
    assert(k1 == k2)
    assert(k1.zip(k3).exists { case (a, b) => a == b },
      "near-duplicate must collide on at least one of the bands")
    assert(k1.length == SrpBandKeys.Bands)
  }

  test("generative recall: 200 near-dup pairs at cosine >= 0.95 all share a band") {
    // empirical check of the (1 - p^16)^96 ~= 4e-9 per-pair miss bound the
    // dedup_embedding oracle pairing rests on: even 200 deterministic
    // random pairs give ~1e-6 total miss probability — a failure here means
    // the banding math (or the plane matrix) broke, not bad luck
    val rnd = new scala.util.Random(123)
    val pairs = Seq.fill(200) {
      val v = Array.fill(64)(rnd.nextGaussian())
      val noise = Array.fill(64)(rnd.nextGaussian())
      // perturb to land in [0.95, 1) cosine: w = v + eps*noise
      val eps = 0.05 + rnd.nextDouble() * 0.15
      val w = v.zip(noise).map { case (x, e) => x + eps * e }
      val cos = {
        val dot = v.zip(w).map { case (a, b) => a * b }.sum
        dot / (math.sqrt(v.map(x => x * x).sum) * math.sqrt(w.map(x => x * x).sum))
      }
      (v.toSeq, w.toSeq, cos)
    }.filter(_._3 >= 0.95)
    assert(pairs.size >= 100, s"fixture produced only ${pairs.size} near-dup pairs")
    val keys = keysOf(pairs.flatMap(p => Seq(p._1, p._2)))
    val misses = pairs.indices.count { i =>
      val (a, b) = (keys(2 * i), keys(2 * i + 1))
      !a.zip(b).exists { case (x, y) => x == y }
    }
    assert(misses == 0, s"$misses of ${pairs.size} near-dup pairs missed every band")
  }

  test("custom expressions are SQL-registered via GraftExtensions") {
    val r = spark.sql(
      """SELECT simhash64('the quick brown fox') AS sh,
        |       size(shingle_hashes('a b c d')) AS ns,
        |       size(srp_band_keys(array(1.0d, 2.0d, 3.0d))) AS nb,
        |       cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS cs
        |""".stripMargin).head()
    assert(r.getInt(1) == 2) // trigrams of 4 tokens
    assert(r.getInt(2) == graft.functions.SrpBandKeys.Bands)
    assert(r.getDouble(3) == 1.0)
  }

  test("plane matrix is deterministic across accesses") {
    val a = SrpBandKeys.planes.map(_.toSeq).toSeq
    assert(a == SrpBandKeys.planes.map(_.toSeq).toSeq)
    assert(a.flatten.forall(x => x == 1.0 || x == -1.0))
  }
}
