package graft

import graft.functions.{JaroWinkler, KernelReferences}
import org.scalatest.funsuite.AnyFunSuite

class JaroWinklerSpec extends AnyFunSuite {

  private def approx(a: Double, b: Double, eps: Double = 1e-4): Boolean =
    math.abs(a - b) <= eps

  test("textbook reference pairs") {
    // classic values from the record-linkage literature
    assert(approx(JaroWinkler.sim("MARTHA", "MARHTA"), 0.9611))
    assert(approx(JaroWinkler.sim("DIXON", "DICKSONX"), 0.8133))
    assert(approx(JaroWinkler.sim("JELLYFISH", "SMELLYFISH"), 0.8963))
  }

  test("edge cases") {
    assert(JaroWinkler.sim("", "") == 1.0)
    assert(JaroWinkler.sim("a", "") == 0.0)
    assert(JaroWinkler.sim("", "a") == 0.0)
    assert(JaroWinkler.sim("abc", "abc") == 1.0)
    assert(JaroWinkler.sim("abc", "xyz") == 0.0)
  }

  test("winkler bonus only above 0.7 jaro") {
    // completely dissimilar strings get no prefix bonus
    assert(JaroWinkler.sim("ab", "ba") <= 0.7 + 1e-12)
  }

  test("closed-form lengthBand (r14): integer-boundary guarantee + " +
    "walk-closeness, tau in {0.8..0.99} x lengths to 10^4") {
    // the guarantee the pruning correctness rests on: any pair with
    // ceil(r*L2) <= L1 <= L2 lands in adjacent-or-equal bands — and
    // the closed form must track the reference walk's pruning power
    // (coarser is safe but weaker; measured <= 5 bands over this grid)
    val taus = Seq(0.801, 0.81, 0.85, 0.9, 0.95, 0.99)
    val rs = taus.map(t => 3.0 * (t - 0.4) / 0.6 - 2.0) ++ Seq(0.995, 0.999)
    for (r <- rs) {
      var prev = JaroWinkler.lengthBand(1, r)
      assert(prev == 0, s"band(1) must be 0, got $prev (r=$r)")
      for (len <- 2 to 10000) {
        val b = JaroWinkler.lengthBand(len, r)
        // monotone, no skipped bands
        assert(b >= prev && b <= prev + 1, s"len=$len r=$r: $prev -> $b")
        prev = b
        // adjacency guarantee against the SMALLEST legal partner: if it
        // holds for ceil(r*len) it holds for every longer partner by
        // monotonicity
        val l1 = math.ceil(r * len).toInt
        if (l1 >= 1)
          assert(b - JaroWinkler.lengthBand(l1, r) <= 1,
            s"pair ($l1, $len) splits by 2+ bands at r=$r")
      }
      val (closed, walk) =
        (JaroWinkler.lengthBand(10000, r), KernelReferences.lengthBandWalk(10000, r))
      // s = 1.5 matches the walk's mean step: within ±1 band on the
      // tau grid, ~2% relative at r = 0.999 where floor losses
      // compound through the ~1.5r/(1-r) linear regime. Either
      // direction is SAFE (the adjacency guarantee above is what
      // correctness rests on); this pins pruning power parity.
      assert((closed - walk).abs <= math.max(1, walk / 25),
        s"r=$r: closed $closed vs walk $walk — pruning power drifted")
    }
    // degenerate lengths
    for (r <- rs) {
      assert(JaroWinkler.lengthBand(0, r) == -1)
      assert(JaroWinkler.lengthBand(-1, r) == -1)
    }
    // megabyte-scale lengths stay O(1) and ordered (the tau->1 shape
    // that used to build a ~1/(1-r)-sized boundary array per r)
    for (r <- Seq(0.999, 0.9999); len <- Seq(100000, 1 << 20, 1 << 24))
      assert(JaroWinkler.lengthBand(len, r) >
        JaroWinkler.lengthBand(len / 2, r))
  }

  test("property: symmetric, in [0,1], identity = 1 (seeded sweep)") {
    val rnd = new scala.util.Random(42)
    def word(): String =
      (0 until rnd.nextInt(20)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    for (_ <- 1 to 500) {
      val (a, b) = (word(), word())
      val s = JaroWinkler.sim(a, b)
      assert(s >= 0.0 && s <= 1.0, s"out of range for ($a, $b)")
      assert(approx(s, JaroWinkler.sim(b, a), 1e-12), s"asymmetric for ($a, $b)")
      assert(JaroWinkler.sim(a, a) == 1.0)
    }
  }
}
