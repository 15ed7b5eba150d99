package graft

import graft.functions.{JaroWinkler, MinHashKernels}
import graft.operators.{Dedup, Ops}
import org.apache.spark.sql.Kernels
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._

/** Property-style invariants (seeded sweeps — SURVEY §5.4): algebraic
  * laws the operators must satisfy on arbitrary inputs, not just the
  * fixtures.
  */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(2026)

  test("morton2/unmorton2 round-trip and curve-order laws on random ints") {
    import graft.functions.LayoutKernels.morton2
    import graft.functions.KernelReferences.unmorton2
    for (_ <- 1 to 500) {
      val a = rnd.nextInt(); val b = rnd.nextInt()
      assert(unmorton2(morton2(a, b)) == ((a, b)), s"a=$a b=$b")
      // monotone per coordinate (guard against overflow at the edges)
      if (a != Int.MaxValue) assert(morton2(a + 1, b) > morton2(a, b))
      if (b != Int.MaxValue) assert(morton2(a, b + 1) > morton2(a, b))
      // the quadrant invariant skipping relies on: keys of a power-of-2
      // aligned quad are CONTIGUOUS — the quad's corners bound its keys
      val qa = a & ~0xFF; val qb = b & ~0xFF // 256-aligned quad around (a,b)
      assert(morton2(qa, qb) <= morton2(a, b) &&
        morton2(a, b) <= morton2(qa | 0xFF, qb | 0xFF), s"quad a=$a b=$b")
    }
    assert(unmorton2(morton2(Int.MinValue, Int.MaxValue)) ==
      ((Int.MinValue, Int.MaxValue)))
  }

  test("sortedJaccard equals set-based Jaccard on random long sets") {
    for (_ <- 1 to 200) {
      val a = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong).distinct.sorted
      val expected =
        if (a.isEmpty && b.isEmpty) 0.0
        else a.toSet.intersect(b.toSet).size.toDouble / a.toSet.union(b.toSet).size
      val got = MinHashKernels.sortedJaccard(
        UnsafeArrayData.fromPrimitiveArray(a.toArray),
        UnsafeArrayData.fromPrimitiveArray(b.toArray))
      assert(math.abs(got - expected) < 1e-12, s"a=$a b=$b")
    }
  }

  test("thresholded Jaccard is exact at or above its bound, an upper bound below it") {
    // thresholds on and next to each pair's own score hit the boundary
    // where a lossy early exit would show
    var stopped = 0
    for (_ <- 1 to 2000) {
      val range = 2 + rnd.nextInt(60)
      def set() = Seq.fill(rnd.nextInt(40))(rnd.nextInt(range).toLong).distinct.sorted.toArray
      val (a, b) = (UnsafeArrayData.fromPrimitiveArray(set()),
        UnsafeArrayData.fromPrimitiveArray(set()))
      val exact = MinHashKernels.sortedJaccard(a, b)
      for (t <- Seq(exact, Math.nextUp(exact), Math.nextDown(exact), rnd.nextDouble(),
          0.5, 0.0, -0.5, 1.0, 1.5)) {
        val got = MinHashKernels.denseJaccardAtLeast(a, b, t)
        if (exact >= t) assert(got == exact, s"t=$t a=$a b=$b")
        else {
          assert(got < t && got >= exact, s"t=$t got=$got exact=$exact a=$a b=$b")
          if (got != exact) stopped += 1
        }
      }
    }
    assert(stopped > 1000, stopped) // the early exit ran, not only full merges
  }

  test("minhash collision rate estimates Jaccard (statistical bound)") {
    // two docs with known shingle overlap: signature agreement ≈ jaccard
    val base = "the quick brown fox jumps over the lazy dog and keeps running"
    val variant = base.replace("lazy", "calm").replace("quick", "swift")
    val df = Seq((1L, base), (2L, variant)).toDF("id", "t")
      .select(graft.functions.TextFunctions.shingleHashes(col("t"), 5).as("hs"))
    val Array(h1, h2) = df.as[Seq[Long]].collect()
    val trueJ = h1.toSet.intersect(h2.toSet).size.toDouble / h1.toSet.union(h2.toSet).size
    val k = 256
    val s1 = MinHashKernels.minHashes(UnsafeArrayData.fromPrimitiveArray(h1.toArray), k)
    val s2 = MinHashKernels.minHashes(UnsafeArrayData.fromPrimitiveArray(h2.toArray), k)
    val agree = (0 until k).count(i => s1.getLong(i) == s2.getLong(i)).toDouble / k
    assert(math.abs(agree - trueJ) < 0.12, s"est=$agree true=$trueJ") // ±3σ-ish at k=256
  }

  test("asofJoin matches a per-row reference on random keys and timestamps") {
    val left = Seq.fill(300)((rnd.nextInt(8).toLong, rnd.nextInt(100).toLong))
      .zipWithIndex.map { case ((k, ts), i) => (k, ts, i.toLong) }
    val right = Seq.fill(60)((rnd.nextInt(8).toLong, rnd.nextInt(100).toLong))
      .distinct // unique per (k, ts) — the operator's contract
      .map { case (k, ts) => (k, ts, rnd.nextDouble()) }
    val out = Ops.asofJoin(left.toDF("k", "ts", "rowid"),
        right.toDF("k", "ts", "v"), Seq("k"), "ts", Seq("v"))
      .collect()
      .map(r => r.getLong(2) -> (if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toMap
    val rightByKey = right.groupBy(_._1)
    left.foreach { case (k, ts, id) =>
      val want = rightByKey.getOrElse(k, Nil)
        .filter(_._2 <= ts).sortBy(_._2).lastOption.map(_._3)
      assert(out(id) == want, s"k=$k ts=$ts")
    }
  }

  test("chunkText: chunks at overlap 0 partition the tokens exactly, any text") {
    val alphabet = "ab 1\t?\n"
    for (_ <- 1 to 150) {
      val text = Seq.fill(rnd.nextInt(60))(alphabet(rnd.nextInt(alphabet.length))).mkString
      val maxTokens = 1 + rnd.nextInt(6)
      val chunks = Seq(text).toDF("t")
        .select(Kernels.chunkText(col("t"), maxTokens, 0))
        .as[Seq[String]].collect().head
      // reference tokenization: space-trim then Java split keeping
      // boundary empties — the kernel's documented contract
      val trimmed = text.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      val tokens: Seq[String] =
        if (trimmed.isEmpty) Nil
        else trimmed.split("[ \t\n\u000B\f\r]+", -1).toSeq
      assert(chunks.flatMap(c => if (c.isEmpty) Seq("") else c.split(" ", -1).toSeq)
        == tokens, s"text=${text.replace("\n", "\\n").replace("\t", "\\t")}")
      assert(chunks.forall(c => c.split(" ", -1).length <= maxTokens))
    }
  }

  test("collectSmallest equals slice(array_sort(collect_list)) on random groups") {
    // the bounded aggregate must be a drop-in for the unbounded
    // formulation it replaces — same values, same order, every limit
    for (limit <- Seq(1, 3, 8, 50)) {
      val data = Seq.fill(400)((rnd.nextInt(6), rnd.nextInt(1000).toLong))
      val df = data.toDF("g", "v").repartition(7) // force partial + merge paths
      val got = df.groupBy("g")
        .agg(Dedup.collectSmallest(col("v"), limit).as("s"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
      val want = data.groupBy(_._1).map { case (g, vs) =>
        g -> vs.map(_._2).sorted.take(limit)
      }
      assert(got == want, s"limit=$limit")
    }
  }

  test("rank-vs-sort consistency: rankInGroup follows the declared order") {
    val data = Seq.fill(300)((s"g${rnd.nextInt(5)}", rnd.nextInt(50)))
    val df = data.toDF("g", "v")
    val ranked = Ops.rankInGroup(df, Seq("g"), Seq(col("v").desc, col("g").asc), "r")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    ranked.groupBy(_._1).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_._3)
      assert(byRank.map(_._3).toSeq == (1 to rows.length))
      // values must be non-increasing in rank order
      assert(byRank.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    }
  }

  test("sequenceId contiguity on arbitrary input sizes") {
    for (n <- Seq(1, 7, 100)) {
      val df = (1 to n).map(i => rnd.nextInt(1000)).toDF("v")
      val ids = Ops.sequenceId(df, Seq(col("v").asc, col("v")), "id")
        .select("id").as[Long].collect().sorted
      assert(ids.toSeq == (1L to n.toLong))
    }
  }

  test("jaro-winkler triangle-ish sanity: more shared prefix never hurts") {
    for (_ <- 1 to 100) {
      val s = (0 until 5 + rnd.nextInt(8)).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
      val full = JaroWinkler.sim(s, s)
      assert(full == 1.0)
      // appending noise strictly reduces similarity below identity
      val noisy = s + "zzz"
      assert(JaroWinkler.sim(s, noisy) < 1.0)
    }
  }

  test("lineDedup invariants on a random corpus: uniqueness, provenance, conservation") {
    val vocab = Vector("alpha", "beta", "gamma", "x", "")
    val docs = (1L to 40L).map { id =>
      val lines = Seq.fill(1 + rnd.nextInt(6))(
        Seq.fill(1 + rnd.nextInt(3))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      (id, lines.mkString("\n"))
    }
    val df = docs.toDF("doc_id", "text")
    val minChars = 2
    val out = Dedup.lineDedup(df, "text", "doc_id", minChars = minChars)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val inputLines = docs.flatMap { case (id, t) =>
      t.split("\n", -1).zipWithIndex.map { case (l, p) => (id, p, l) }
    }
    val outLines = out.flatMap { case (id, t, _, _) =>
      t.split("\n", -1).map(l => (id, l))
    }
    // 1) every surviving LONG line appears exactly once corpus-wide,
    //    and at its minimal (doc_id, pos)
    val firstOcc = inputLines.filter(_._3.length >= minChars)
      .groupBy(_._3).map { case (l, occ) => l -> occ.map(o => (o._1, o._2)).min }
    val longOut = outLines.filter(_._2.length >= minChars)
    assert(longOut.size == longOut.distinct.size && longOut.size == firstOcc.size)
    longOut.foreach { case (id, l) => assert(firstOcc(l)._1 == id, s"line '$l' not at first doc") }
    // 2) short lines all survive: per-doc exempt counts are conserved
    val shortIn = inputLines.filter(_._3.length < minChars).groupBy(_._1).view.mapValues(_.size)
    out.foreach { case (id, t, nKept, nDropped) =>
      val doc = docs.find(_._1 == id).get._2.split("\n", -1)
      assert(nKept + nDropped == doc.length, s"doc $id conservation")
      val shortKept = t.split("\n", -1).count(_.length < minChars)
      assert(shortKept == shortIn.getOrElse(id, 0), s"doc $id exempt lines")
    }
  }

  test("sampleToTokenBudget is the greedy prefix: never exceeds, takes the maximal prefix") {
    val rows = (1L to 200L).map(i => (i, "g" + (i % 5), 1L + rnd.nextInt(500)))
    val df = rows.toDF("id", "grp", "tok")
    val budgets = (0 until 5).map(g => ("g" + g, 2000L)).toDF("grp", "token_budget")
    val kept = graft.operators.Ops.sampleToTokenBudget(df, Seq("grp"), "tok",
      budgets, Seq(col("id")))
      .select("id").as[Long].collect().toSet
    rows.groupBy(_._2).foreach { case (_, members) =>
      var cum = 0L
      members.sortBy(_._1).foreach { case (id, _, tok) =>
        cum += tok
        assert(kept.contains(id) == (cum <= 2000L), s"row $id (cum $cum)")
      }
    }
  }

  test("jsonl write -> read roundtrip is lossless for nulls and unicode") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rt").toFile
    dir.deleteOnExit()
    val rows = (1L to 50L).map { i =>
      (i,
        if (i % 9 == 0) null
        else s"""line $i with "quotes", Grüße, 日本語, tab\there""",
        if (i % 7 == 0) null else "en")
    }
    val df = rows.toDF("doc_id", "text", "lang")
    graft.sources.Sinks.writeJsonl(df, dir.getAbsolutePath, maxRecordsPerFile = 20)
    val schema = df.schema
    val tagged = graft.sources.Ingest.readJsonlTagged(spark, dir.getAbsolutePath, schema)
    assert(tagged.filter(col("_corrupt_record").isNotNull).count() == 0)
    val back = tagged.select("doc_id", "text", "lang")
      .as[(Long, String, String)].collect().toSet
    assert(back == rows.toSet)
  }

  test("union + exact dedup: cluster sizes sum to input size") {
    val docs = (1L to 100L).map(i => (i, s"doc ${i % 17} content")).toDF("doc_id", "text")
    val clusters = Dedup.exact(docs, "text", "doc_id")
    assert(clusters.agg(sum("dup_count")).as[Long].collect().head == 100L)
    assert(clusters.count() == 17L)
  }
}
