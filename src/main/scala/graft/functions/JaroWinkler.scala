package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Jaro-Winkler string similarity.
  *
  * The reference's fuzzy-match operator (Pentaho `FuzzyMatch`, see
  * /root/reference/motogp.ktr:3022-3152) scores candidate pairs with
  * Jaro-Winkler and keeps the single closest match. This is the textbook
  * algorithm: Jaro similarity (match window `max(|a|,|b|)/2 - 1`,
  * transpositions halved) plus the Winkler common-prefix bonus
  * (p = 0.1, prefix capped at 4, applied only when jaro > 0.7 — the same
  * convention DuckDB's `jaro_winkler_similarity` uses, which is what the
  * correctness oracle runs).
  */
object JaroWinkler {

  /** Codegen entry point — called from generated Java, must stay static. */
  def similarity(a: UTF8String, b: UTF8String): Double =
    sim(a.toString, b.toString)

  def sim(s1: String, s2: String): Double = {
    val len1 = s1.length
    val len2 = s2.length
    if (len1 == 0 && len2 == 0) return 1.0
    if (len1 == 0 || len2 == 0) return 0.0
    val window = math.max(math.max(len1, len2) / 2 - 1, 0)
    val matched1 = new Array[Boolean](len1)
    val matched2 = new Array[Boolean](len2)
    var m = 0
    var i = 0
    while (i < len1) {
      val start = math.max(0, i - window)
      val end = math.min(i + window + 1, len2)
      var j = start
      var found = false
      while (j < end && !found) {
        if (!matched2(j) && s1.charAt(i) == s2.charAt(j)) {
          matched1(i) = true
          matched2(j) = true
          m += 1
          found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // transpositions: matched chars compared in order
    var k = 0
    var trans = 0
    i = 0
    while (i < len1) {
      if (matched1(i)) {
        while (!matched2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) trans += 1
        k += 1
      }
      i += 1
    }
    val md = m.toDouble
    val jaro = (md / len1 + md / len2 + (md - trans / 2.0) / md) / 3.0
    if (jaro <= 0.7) return jaro
    var prefix = 0
    val maxPrefix = math.min(4, math.min(len1, len2))
    while (prefix < maxPrefix && s1.charAt(prefix) == s2.charAt(prefix)) prefix += 1
    jaro + 0.1 * prefix * (1.0 - jaro)
  }

  // ---- thresholded-join pruning kernels (round 12) -------------------
  //
  // For pairs with JW >= tau the Jaro core obeys two provable bounds
  // (sim() above: window matching, m <= min lengths, Winkler bonus
  // <= 0.4·(1−J), so JW <= 0.4 + 0.6·J):
  //   J >= jmin := (tau − 0.4)/0.6
  //   (length ratio)  min(L1,L2)/max(L1,L2) >= r := 3·jmin − 2
  //   (char overlap)  |bag(s1) ∩ bag(s2)| >= m >= (3·jmin − 1)·L1L2/(L1+L2)
  // Both only bite for tau > 0.8 (r > 0) — the enforced contract of
  // FuzzyMatch.thresholdJoin.

  /** Length band in CLOSED FORM (r14 — the tau→1 cost closed): the
    * walk recurrence x ↦ ⌊x/r⌋ + 2 averages x/r + 1.5 (the floor loses
    * half a unit in expectation), and the real recurrence x ↦ x/r + s
    * has the fixed-point solution f(k) = (1+A)·(1/r)^k − A with
    * A = s·r/(1−r); band(len) = max k with f(k) ≤ len + 0.5 — one log,
    * one pow, a ≤-2-step float-guard adjust: O(1) per row, NO per-r
    * cache, no boundary array whose size grows ~1/(1−r) as tau→1.
    *
    * Integer-boundary guarantee (same contract as the walk): a pair
    * L1 ≤ L2 with L1 ≥ ⌈r·L2⌉ can never split by two bands. Proof:
    * band(L2) ≥ k+1 and band(L1) ≤ k−1 would need f(k+1) ≤ L2 + 0.5
    * and f(k) > L1 + 0.5; the recurrence gives f(k) = r·f(k+1) − s·r ≤
    * r·L2 + 0.5r − s·r, so L1 < r·L2 − (s−0.5)·r − 0.5 < ⌈r·L2⌉ ≤ L1
    * — a contradiction with slack (s−0.5)·r + 0.5 ≥ 0.5 for EVERY
    * r ∈ (0,1) and any s ≥ 0.5 (s = 1.5 here), which is what makes the
    * float evaluation of pow (error ~1e-10 at these magnitudes) safe:
    * the half-integer comparison threshold sits 0.5 away from where
    * the proof could break. Boundaries stay distinct integers because
    * consecutive f values differ by ≥ (1−r)/r + s > 1.
    *
    * Pruning power tracks the walk: s = 1.5 matches the walk's mean
    * step, measured within ±1 band over lengths ≤ 10⁴ across
    * tau ∈ [0.8, 0.99] and within 2% at r = 0.999 (JaroWinklerSpec
    * pins both the guarantee and the closeness). len 0 gets band −1:
    * an empty string pairs only with another empty (JW = 1) and must
    * meet nothing else. */
  def lengthBand(len: Int, r: Double): Int = {
    if (len <= 0) return -1
    val a = 1.5 * r / (1.0 - r)
    val base = 1.0 + a
    val target = len + 0.5
    def f(k: Int): Double = base * math.pow(1.0 / r, k.toDouble) - a
    var k = math.max(0,
      math.floor(math.log((target + a) / base) / math.log(1.0 / r)).toInt)
    while (f(k + 1) <= target) k += 1 // float-guard: ≤ 2 steps in practice
    while (k > 0 && f(k) > target) k -= 1
    k
  }

  /** Prefix-filter signature: the lowered string's chars with
    * occurrence tags ((char << 16) | occ — multiset-as-set, the PPJoin
    * device), truncated to the first L − o + 1 entries where
    * o = ⌈frac·L⌉ is this row's worst-case required overlap
    * (frac = (3·jmin−1)·r/(1+r): the pair bound minimized over legal
    * partner lengths [r·L, L/r], so o never exceeds any real pair's
    * bound and the prefix lemma applies — two strings with overlap
    * >= o MUST share a signature entry). The lemma holds for ANY total
    * order applied consistently to both sides; which order decides how
    * well the prefix PRUNES. Round 12 used raw char order — and the
    * smallest code points (space, digits) are among the most COMMON in
    * real text, so every value's prefix carried the corpus's most
    * frequent entries and collapsed into a handful of giant buckets
    * (FuzzySkewScale measured candidates ≈ brute force on hash-word
    * values: the space char sat in every prefix). Round 13 orders
    * entries by a SCRAMBLED char key (char · 40503 mod 2¹⁶ — odd
    * multiplier, a bijection, decided at the code level so both join
    * sides always agree) then occurrence: prefix membership is now
    * uncorrelated with char frequency — the data-blind approximation
    * of PPJoin's rare-first ordering, costing nothing at plan time (a
    * corpus-frequency order would need a statistics pass). The STORED
    * entry encoding is unchanged; only which entries survive
    * truncation moved. The 1e-9 slack keeps a float product from
    * rounding o past the true ceiling (a smaller o just lengthens the
    * prefix: sound). Empty string → sentinel [−1] (meets only the
    * other empties' sentinel). */
  def signature(s: UTF8String, frac: Double): Array[Long] = {
    val str = s.toString
    val n = str.length
    if (n == 0) return Array(-1L)
    val chars = str.toCharArray
    // sort by the scrambled key; runs of one char stay adjacent (the
    // scramble is injective on chars), so occurrence tags assign within
    // runs exactly as before
    val keys = new Array[Int](n)
    var i = 0
    while (i < n) { keys(i) = scramble(chars(i)); i += 1 }
    java.util.Arrays.sort(keys)
    var o = math.ceil(frac * n - 1e-9).toInt
    if (o < 1) o = 1
    val sigLen = n - o + 1
    if (sigLen <= 0) return Array.empty[Long]
    val out = new Array[Long](sigLen)
    i = 0
    var occ = 0
    while (i < sigLen) {
      if (i > 0 && keys(i) == keys(i - 1)) occ += 1 else occ = 0
      out(i) = (unscramble(keys(i)).toLong << 16) | occ.toLong
      i += 1
    }
    out
  }

  /** Odd-multiplier bijection on the 16-bit char space — the signature
    * truncation order. 40503 · 30599 ≡ 1 (mod 2¹⁶). */
  @inline private def scramble(c: Char): Int = (c * 40503) & 0xffff
  @inline private def unscramble(k: Int): Char = ((k * 30599) & 0xffff).toChar

  /** Codegen entry points (UTF-16 length, matching sim()'s units). */
  def lengthBandOf(s: UTF8String, r: Double): Int =
    lengthBand(s.toString.length, r)
  def signatureData(s: UTF8String, frac: Double)
      : org.apache.spark.sql.catalyst.util.ArrayData =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(signature(s, frac))

}
