package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ReferenceSpec extends AnyFunSuite {

  private def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray

  test("brute-force inner-product top-k: score descending, ties by id, k clamps") {
    val rows = Array(5L -> v(1, 0), 2L -> v(0, 1), 9L -> v(1, 0), 1L -> v(-1, 0))
    assert(Reference.topKByDot(rows, v(1, 0), 3) == Seq(5L -> 1.0, 9L -> 1.0, 2L -> 0.0))
    assert(Reference.topKByDot(rows, v(1, 0), 10).map(_._1) == Seq(5L, 9L, 2L, 1L))
  }

  test("brute-force L2 top-k: distance ascending, ties by id") {
    val rows = Array(3L -> v(0, 2), 1L -> v(2, 0), 7L -> v(0, 0))
    assert(Reference.topKByL2(rows, v(0, 0), 3) == Seq(7L, 1L, 3L))
  }

  test("threshold rule: first grid step reaching the hit target") {
    // 1.00 and 0.95: 0 hits; 0.90: 2 hits; 0.85: 3 hits -> stop.
    assert(Reference.dynamicThreshold(Seq(0.93, 0.91, 0.88, 0.2), 3, 0.05) == (0.85, 4))
    // A score exactly on a grid value counts as a hit.
    assert(Reference.dynamicThreshold(Seq(0.9, 0.9, 0.9), 3, 0.05) == (0.9, 3))
  }

  test("threshold rule: unreachable target takes the most hits at the highest threshold") {
    // One score can never make 3 hits: the whole 21-step grid is tried and
    // the highest threshold with the maximum (1) hit count wins.
    assert(Reference.dynamicThreshold(Seq(0.5), 3, 0.05) == (0.5, 21))
    assert(Reference.dynamicThreshold(Seq(-0.2), 1, 0.1) == (1.0, 11))
  }

  test("recall is the share of the exact list found") {
    assert(Reference.recall(Seq(1L, 2L, 3L, 4L), Seq(2L, 4L, 9L)) == 0.5)
    assert(Reference.recall(Seq(1L), Seq(1L)) == 1.0)
  }

  test("planted-duplicate Jaccard over word 3-shingles") {
    val a = Reference.shingles("a b c d")
    val b = Reference.shingles("a b c e")
    assert(a == Set("a b c", "b c d"))
    assert(Reference.jaccard(a, b) == 1.0 / 3)
    // The screen's tokenisation: trimmed, lower-cased, split on whitespace.
    assert(Reference.shingles("  A  b\nC ") == Set("a b c"))
    assert(Reference.shingles("a b").isEmpty)
    assert(Reference.jaccard(a, a) == 1.0)
  }

  test("tail is the highest sample with ten above it, from forty samples on") {
    assert(Stats.tail((1 to 39).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 40).map(_.toDouble)).contains(30.0))
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }
}
