package graft

import graft.functions.NgramDupProfile
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Pins functions/NgramDupProfile (the fused pass behind text_repetition)
  * against a naive string-gram reference: the expression counts gram
  * HASHES, so these assert the counts — the only observable — match exact
  * string semantics, including the split(text, ' ') empty-token corners.
  */
class NgramStatsSpec extends AnyFunSuite {

  private def naive(text: String, k: Int): (Long, Long) = {
    val toks = text.split(" ", -1)
    val grams = toks.sliding(k).filter(_.length == k).map(_.mkString(" ")).toSeq
    (grams.size.toLong, grams.distinct.size.toLong)
  }

  /** Element k-1 of one all-k profile, as `text_repetition` reads it. */
  private def fused(text: String, k: Int): (Long, Long) = {
    val r = NgramDupProfile.computeProfile(UTF8String.fromString(text), 4)
      .getStruct(k - 1, 2)
    (r.getLong(0), r.getLong(1))
  }

  test("fused counts equal naive string-gram counts") {
    val texts = Seq(
      "a b a b a b",
      "the quick brown fox jumps over the lazy dog",
      "x x x x x x x x",
      "one two three",
      "a  b   c", // consecutive spaces -> empty tokens, like split(text,' ')
      "solo",
      "")
    for (t <- texts; k <- 1 to 4)
      assert(fused(t, k) == naive(t, k), s"text='$t' k=$k")
  }

  test("fewer than k tokens yields (0, 0)") {
    assert(fused("a b", 3) == ((0L, 0L)))
    assert(fused("", 2) == ((0L, 0L)))
  }

  test("fully repeated text approaches dup fraction 1") {
    val (n, d) = fused(Seq.fill(50)("spam").mkString(" "), 2)
    assert(n == 49L && d == 1L)
  }
}
