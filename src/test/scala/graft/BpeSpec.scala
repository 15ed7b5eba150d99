package graft

import graft.functions.BpeKernels
import graft.operators.Bpe
import org.apache.spark.sql.functions._

/** BPE pins: the distributed trainer against an independent in-memory
  * reference implementation (same spec, plain collections — no Spark),
  * the replace-on-doubled-separator merge trick against the array
  * kernel, and the encode expression end to end.
  */
object BpeRef {
  /** Reference trainer: classic dict BPE with (count DESC, a, b)
    * tie-break on UTF-8 byte order. */
  def train(texts: Seq[String], numMerges: Int): Seq[(String, String)] = {
    def u8lt(x: String, y: String): Boolean = {
      val a = x.getBytes("UTF-8"); val b = y.getBytes("UTF-8")
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        if ((a(i) & 0xff) != (b(i) & 0xff)) return (a(i) & 0xff) < (b(i) & 0xff)
        i += 1
      }
      a.length < b.length
    }
    var dict: Map[Vector[String], Long] = texts
      .flatMap(t => BpeKernels.words(
        org.apache.spark.unsafe.types.UTF8String.fromString(t)))
      .groupBy(identity).map { case (w, ws) =>
        BpeKernels.codepointSymbols(w).toVector -> ws.size.toLong }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (merges.size < numMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, c) <- dict; i <- 0 until syms.size - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + c
      if (counts.isEmpty) done = true
      else {
        val best = counts.toSeq.minBy(identity)(Ordering.fromLessThan[((String, String), Long)] {
          case (((a1, b1), c1), ((a2, b2), c2)) =>
            if (c1 != c2) c1 > c2
            else if (a1 != a2) u8lt(a1, a2)
            else u8lt(b1, b2)
        })._1
        merges += best
        dict = dict.groupMapReduce(
          { case (syms, _) =>
            BpeKernels.mergePass(syms.toArray, best._1, best._2).toVector })(
          _._2)(_ + _)
      }
    }
    merges.toSeq
  }
}

class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("replace on the doubled-separator string IS the greedy merge pass") {
    val rnd = new scala.util.Random(31)
    val alphabet = Seq("a", "b", "c", "ab", "bc", "é", "aa")
    for (_ <- 1 to 300) {
      val syms = Array.fill(1 + rnd.nextInt(12))(
        alphabet(rnd.nextInt(alphabet.size)))
      val a = alphabet(rnd.nextInt(alphabet.size))
      val b = alphabet(rnd.nextInt(alphabet.size))
      val repr = syms.mkString("\n\n", "\n\n", "\n\n")
      val viaReplace = Seq(repr).toDF("r")
        .select(replace(col("r"), lit("\n" + a + "\n\n" + b + "\n"),
          lit("\n" + a + b + "\n")).as("m"))
        .as[String].head()
        .split("\n\n").filter(_.nonEmpty).toSeq
      assert(viaReplace == BpeKernels.mergePass(syms, a, b).toSeq,
        s"syms=${syms.toSeq} merge=($a,$b)")
    }
  }

  /** Three random 30-document corpora over a shared-stem vocabulary. */
  private def randomCorpora: Seq[Seq[String]] = {
    val rnd = new scala.util.Random(47)
    val vocab = Seq("low", "lower", "lowest", "new", "newer", "newest",
      "wide", "wider", "widest", "ab", "aab", "aaab")
    Seq.fill(3)(Seq.fill(30)(
      Seq.fill(1 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
  }

  test("both trainer paths match the in-memory reference on random corpora") {
    for ((texts, trial) <- randomCorpora.zip(1 to 3)) {
      val df = texts.toDF("text")
      val want = BpeRef.train(texts, numMerges = 8)
      // driver-local budgeted path (the default at this dictionary size)
      val local = Bpe.train(df, "text", numMerges = 8)
      assert(local == want, s"trial $trial local: $local vs $want")
      // forced-distributed incremental path (the 100 TB configuration)
      val dist = Bpe.train(df, "text", numMerges = 8, localDictLimit = 0)
      assert(dist == want, s"trial $trial distributed: $dist vs $want")
    }
  }

  test("the distributed trainer learns the same merges over 1 and 7 partitions") {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => spark.conf.getOption(k))
    try {
      spark.conf.set(keys(1), "false")
      for (parts <- Seq(1, 7); (texts, trial) <- randomCorpora.zip(1 to 3)) {
        spark.conf.set(keys(0), parts.toString)
        val dict = Bpe.wordDict(texts.toDF("text"), "text")
        assert(dict.rdd.getNumPartitions == parts)
        val dist = Bpe.train(texts.toDF("text"), "text", numMerges = 8, localDictLimit = 0)
        val want = BpeRef.train(texts, numMerges = 8)
        assert(dist == want, s"trial $trial, $parts partitions: $dist vs $want")
      }
    } finally keys.zip(saved).foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("the distributed trainer submits one job per merge after its census") {
    val texts = randomCorpora.head
    val (merges, shape) = JobShape.of(spark, "bpe-train-distributed")(
      Bpe.train(texts.toDF("text"), "text", numMerges = 8, localDictLimit = 0))
    assert(merges == BpeRef.train(texts, numMerges = 8) && merges.size == 8)
    // the census is two jobs: the dictionary's shuffle stage, then the
    // pair census that persists the first generation
    assert(shape.jobs <= 8 + 2, s"${shape.jobs} jobs for 8 merges")
  }

  test("trainer early-stops when the dictionary runs out of pairs") {
    // single-char words only: no adjacent pairs exist at all
    val merges = Bpe.train(Seq("a b c", "a c").toDF("text"), "text", 5)
    assert(merges.isEmpty)
    assert(Bpe.train(Seq("a b c", "a c").toDF("text"), "text", 5,
      localDictLimit = 0).isEmpty)
  }

  test("encode: learned merges apply in rank order, unseen words fall back") {
    val texts = Seq("aaab aaab aaab ab", "aaab ab ab")
    val merges = Bpe.train(texts.toDF("text"), "text", 4)
    assert(merges == BpeRef.train(texts, 4))
    val toks = Seq("aaab zzab AAAB").toDF("t")
      .select(Bpe.tokens(col("t"), merges).as("toks"))
      .as[Seq[String]].head()
    // the seen word encodes per training; "zzab" is unseen but its
    // known (a,b)-suffix merges still apply; uppercase lowers first
    val encodeOne = (w: String) => merges.foldLeft(
      BpeKernels.codepointSymbols(w)) { case (s, (a, b)) =>
        BpeKernels.mergePass(s, a, b) }.toSeq
    assert(toks == encodeOne("aaab") ++ encodeOne("zzab") ++ encodeOne("aaab"))
  }

  test("maxDictWords caps training to the top-K words, deterministically") {
    // "xy" (count 8) dominates "aaab" (count 3); capped to 1 word the
    // trainer sees only "xy" — it learns (x,y), then early-stops,
    // never reaching the tail's (a,a) merge the full corpus would add
    val texts = Seq("aaab aaab aaab", "xy xy xy xy xy xy xy xy")
    val capped = Bpe.train(texts.toDF("text"), "text", 2, maxDictWords = 1)
    assert(capped == Seq(("x", "y")))
    // the cap composes with the forced-distributed path too
    assert(Bpe.train(texts.toDF("text"), "text", 2, maxDictWords = 1,
      localDictLimit = 0) == capped)
    val full = Bpe.train(texts.toDF("text"), "text", 2)
    assert(full == BpeRef.train(texts, 2) && full.size == 2 && full != capped)
    // cap larger than the dict = exact training
    assert(Bpe.train(texts.toDF("text"), "text", 2, maxDictWords = 1000) == full)
  }

  test("tie-break is lexicographic on UTF-8 bytes, not arrival order") {
    // two pairs with equal counts: ("b","b") vs ("a","c") — (a,c) wins
    val texts = Seq("bb ac", "bb ac")
    assert(Bpe.train(texts.toDF("text"), "text", 1) == Seq(("a", "c")))
  }
}
