package graft

import graft.functions.CdcKernels
import graft.operators.Dedup
import org.apache.spark.sql.Kernels
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunking: the kernel against an independent
  * windowed-sum reference, the invariants the scaladoc promises
  * (partition law, min/max clamps), the shift-resilience property that
  * is the operator's reason to exist, and the chunk-dedup rollup.
  */
class CdcSpec extends SparkSpec {
  import spark.implicits._

  private val M = 5; private val MIN = 16; private val MAX = 128

  /** Independent reference: candidates by recomputing the trailing
    * window sum FROM SCRATCH at every position (the formulation the
    * DuckDB oracle uses), then a straightforward greedy walk — no
    * rolling state shared with the kernel's `h = (h << 1) + gear`.
    */
  private def refBoundaries(s: String, m: Int = M, minLen: Int = MIN,
                            maxLen: Int = MAX): Seq[Int] = {
    val cps = s.codePoints.toArray
    val n = cps.length
    val mask = (1L << m) - 1
    def low(i: Int): Long = { // i = 1-based end offset
      var sum = 0L
      for (k <- 0 until m)
        sum += (CdcKernels.Gear(cps(i - 1 - k) & 0xFF) & mask) << k
      sum & mask
    }
    val cands = (m to n).filter(i => low(i) == 0L)
    val ends = scala.collection.mutable.ArrayBuffer.empty[Int]
    var start = 0
    while (start < n) {
      val limit = math.min(start + maxLen, n)
      val end = cands.find(c => c >= start + minLen && c <= limit).getOrElse(limit)
      ends += end
      start = end
    }
    ends.toSeq
  }

  private def kernelBoundaries(s: String, m: Int = M, minLen: Int = MIN,
                               maxLen: Int = MAX): Seq[Int] =
    CdcKernels.boundaries(UTF8String.fromString(s), m, minLen, maxLen)
      .toIntArray().toSeq

  // seeded text over an alphabet with multi-byte code points, so the
  // code-point walk (not the byte walk) is what is being checked
  private def randomText(seed: Int, len: Int): String = {
    val r = new scala.util.Random(seed)
    val alpha = "abcdefgh ijklmnop.qrstuvé日\n"
    (0 until len).map(_ => alpha(r.nextInt(alpha.length))).mkString
  }

  test("kernel boundaries == independent windowed-sum reference") {
    for (seed <- 1 to 20) {
      val s = randomText(seed, 50 + seed * 97)
      assert(kernelBoundaries(s) == refBoundaries(s), s"seed=$seed")
    }
    // degenerate shapes
    assert(kernelBoundaries("") == Seq.empty)
    assert(kernelBoundaries("a") == Seq(1))              // below minLen: one tail chunk
    assert(kernelBoundaries("ab" * 300) == refBoundaries("ab" * 300)) // periodic
  }

  test("chunk invariants: partition law, max clamp, min floor except tail") {
    for (seed <- 1 to 10) {
      val s = randomText(seed + 100, 700)
      val ends = kernelBoundaries(s)
      val n = s.codePointCount(0, s.length)
      assert(ends.last == n && ends == ends.sorted && ends.distinct == ends)
      val lens = ends.zip(0 +: ends.init).map { case (e, st) => e - st }
      assert(lens.forall(_ <= MAX))
      assert(lens.init.forall(_ >= MIN), s"seed=$seed lens=$lens")
    }
  }

  test("candidate set is shift-invariant; walks re-align after an edit") {
    val s = randomText(42, 1200)
    val prefix = "INSERTED EDIT >>> "
    val off = prefix.codePointCount(0, prefix.length)
    // boundary ends of the original, shifted into the edited document's
    // coordinates; the greedy walks must eventually coincide — that is
    // the whole point of CDC (fixed windows would share NOTHING)
    val orig = kernelBoundaries(s).map(_ + off).toSet
    val edited = kernelBoundaries(prefix + s).toSet
    val common = orig & edited
    assert(common.size * 2 >= orig.size,
      s"only ${common.size}/${orig.size} boundaries re-aligned after the edit")
    // and once re-aligned they never diverge again: everything after the
    // first common boundary is identical
    val sync = common.min
    assert(orig.filter(_ >= sync) == edited.filter(_ >= sync))
  }

  test("cdcChunks: reassembly, fp equality classes, null/empty handling") {
    val s1 = randomText(7, 500)
    val docs = Seq((1L, s1), (2L, s1), (3L, null.asInstanceOf[String]), (4L, ""))
      .toDF("doc_id", "text")
    val out = Dedup.cdcChunks(docs, "text", "doc_id", M, MIN, MAX)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
    assert(!out.exists(_._1 == 3L) && !out.exists(_._1 == 4L))
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    val d2 = out.filter(_._1 == 2L).sortBy(_._2)
    // identical docs -> identical chunk sequences, offsets, fingerprints
    assert(d1.map(t => (t._2, t._3, t._4, t._5)).toSeq ==
      d2.map(t => (t._2, t._3, t._4, t._5)).toSeq)
    // offsets slice the text back together exactly
    val rebuilt = d1.map { case (_, _, st, ln, _) =>
      val a = s1.offsetByCodePoints(0, st)
      s1.substring(a, s1.offsetByCodePoints(a, ln))
    }.mkString
    assert(rebuilt == s1)
  }

  test("cdcSharedStats: planted shared passage is found, unique docs stay clean") {
    val shared = randomText(9, 400)
    val docs = Seq(
      (1L, randomText(11, 300) + shared),          // shared run at the tail
      (2L, shared + randomText(12, 300)),          // same run at the head
      (3L, randomText(13, 600))                    // unrelated
    ).toDF("doc_id", "text")
    val chunks = Dedup.cdcChunks(docs, "text", "doc_id", M, MIN, MAX)
    val stats = Dedup.cdcSharedStats(chunks, "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(stats(3L)._2 == 0L && stats(3L)._3 == 0L)
    // the interior of the 400-point shared run must re-align in both
    // docs regardless of its offset: expect a substantial shared length
    assert(stats(1L)._3 >= 200L, s"doc1 shared_len = ${stats(1L)._3}")
    assert(stats(2L)._3 >= 200L, s"doc2 shared_len = ${stats(2L)._3}")
  }

  test("incrementalCdc: an edited recrawl scores mostly known, fresh content scores zero") {
    val base = randomText(21, 600)
    val hist = Seq((100L, base)).toDF("doc_id", "text")
    val batch = Seq(
      (1L, base.take(300) + " NEWLY INSERTED SENTENCE " + base.drop(300)),
      (2L, randomText(22, 600))
    ).toDF("doc_id", "text")
    val idx = Dedup.cdcFpIndex(hist, "text", "doc_id", M, MIN, MAX)
    val out = Dedup.incrementalCdc(batch, idx, "text", "doc_id", M, MIN, MAX)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // the insertion perturbs only the chunks it touches; the rest
    // re-align against the history index — the property whole-document
    // incremental dedup (0% known here) cannot provide
    assert(out(1L)._2 > 0L && out(1L)._3 >= 300L,
      s"recrawl known_len = ${out(1L)._3}")
    assert(out(2L)._2 == 0L && out(2L)._3 == 0L)
  }

  test("nfcNormalize: composition, singletons, fast path, null") {
    val rows = Seq(
      (1L, "cafe\u0301"),               // combining acute -> U+00E9
      (2L, "\u212b"),                   // angstrom singleton -> U+00C5
      (3L, "\u1100\u1161"),            // Hangul jamo pair -> U+AC00
      (4L, "plain ascii stays"),       // isNormalized fast path
      (5L, null.asInstanceOf[String])
    ).toDF("id", "t")
    val out = rows.select(col("id"), Kernels.nfcNormalize(col("t")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "caf\u00e9")
    assert(out(2L) == "\u00c5")
    assert(out(3L) == "\uac00")
    assert(out(4L) == "plain ascii stays")
    assert(out(5L) == null)
  }
}
