package graft

import graft.functions.{KernelReferences, TextFunctions => TF}
import org.apache.spark.sql.Kernels
import org.apache.spark.sql.functions._

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("tokens and counts") {
    val df = Seq("the quick  brown fox", "", "   ", "one").toDF("t")
    val out = df.select(TF.tokenCount(col("t"))).as[Long].collect().toSeq
    assert(out == Seq(4L, 0L, 0L, 1L))
  }

  test("chunkText: sliding token windows with overlap, empty text = no chunks") {
    val df = Seq(
      (1L, "a b c d e f g h i j k"), // 11 tokens, max 5, overlap 1 → starts 0,4,8
      (2L, ""), (3L, "   "),
      (4L, "one two")
    ).toDF("id", "t")
    val out = df.select(col("id"), Kernels.chunkText(col("t"), 5, 1))
      .as[(Long, Seq[String])].collect().toMap
    assert(out(1L) == Seq("a b c d e", "e f g h i", "i j k"))
    assert(out(2L).isEmpty && out(3L).isEmpty)
    assert(out(4L) == Seq("one two"))
  }

  test("multiMatch: dictionary-suffix matches, declaration order, brute-force parity") {
    val terms = Seq("batch", "at", "ch", "he", "she", "hers")
    val df = Seq(
      (1L, "one batch here"),  // "at","ch" INSIDE "batch"; "he" in "here"
      (2L, "ushers"),          // "she","he","hers" all nested in one word
      (3L, "nothing matches"), // "at","ch","he" all hide inside "matches"
      (4L, ""),
      (5L, null.asInstanceOf[String])
    ).toDF("id", "t")
    val got = df.select(col("id"), TF.multiMatch(col("t"), terms).as("m"))
      .as[(Long, Seq[String])].collect().toMap
    // brute-force truth: a term matches iff text.contains(term),
    // reported once, in declaration order
    def truth(s: String) = terms.filter(s.contains)
    assert(got(1L) == truth("one batch here"))
    assert(got(1L).toSet == Set("batch", "at", "ch", "he"))
    assert(got(2L) == truth("ushers") && got(2L) == Seq("he", "she", "hers"))
    assert(got(3L) == truth("nothing matches"))
    assert(got(4L).isEmpty)
    assert(df.filter(col("id") === 5L)
      .select(TF.multiMatch(col("t"), terms)).head().isNullAt(0))
    // multi-byte UTF-8 patterns match bytewise-exactly, never partially
    val uni = Seq("naïve café").toDF("t")
      .select(TF.multiMatch(col("t"), Seq("ïve", "café", "fé", "xyz")))
      .as[Seq[String]].head()
    assert(uni == Seq("ïve", "café", "fé"))
  }

  test("chunkText: zero overlap partitions tokens exactly; whitespace normalized") {
    val chunks = Seq("w1  w2\tw3   w4 w5").toDF("t")
      .select(Kernels.chunkText(col("t"), 2, 0))
      .as[Seq[String]].collect().head
    assert(chunks == Seq("w1 w2", "w3 w4", "w5"))
    // every token appears exactly once across chunks at overlap 0
    assert(chunks.flatMap(_.split(" ")).toSeq == Seq("w1", "w2", "w3", "w4", "w5"))
  }

  test("regex token count splits letters/digits/punct runs") {
    val df = Seq("abc123!x", "hello, world").toDF("t")
    // abc|123|!|x = 4 ; hello|,|world = 3
    assert(df.select(KernelReferences.regexTokenCount(col("t"))).as[Long].collect().toSeq == Seq(4L, 3L))
  }

  test("punctuation ratio") {
    val df = Seq("a,b", "abcd", "").toDF("t")
    val out = df.select(round(KernelReferences.punctRatio(col("t")), 6)).as[Double].collect().toSeq
    assert(out == Seq(0.333333, 0.0, 0.0))
  }

  test("stopword ratio and language id") {
    val en = "the cat is in the house and it is warm"
    val fr = "le chat est dans la maison et il est chaud"
    val df = Seq(en, fr, "zzz qqq").toDF("t")
    val langs = df.select(TF.langIdHeuristic(col("t"))).as[String].collect().toSeq
    assert(langs == Seq("en", "fr", "und"))
    val ratio = df.select(KernelReferences.stopwordRatio(col("t"))).as[Double].collect().head
    assert(ratio > 0.3 && ratio <= 1.0)
  }

  test("content fingerprint ignores case and whitespace runs") {
    val df = Seq(("A  b\tC", "a b c"), ("abc", "abd")).toDF("x", "y")
    val out = df.select(
      (TF.contentFingerprint(col("x")) === TF.contentFingerprint(col("y"))).as("eq"))
      .as[Boolean].collect().toSeq
    assert(out == Seq(true, false))
  }

  test("md5 fingerprint: same normalization as the 64-bit key, null stays null") {
    val texts = Seq("A  b\tC", "a b c", "abc", "abd", "  trim me  ", "trim me",
      "Mixed\nLINES here", "mixed lines here", null)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
      .select(col("id"), TF.contentFingerprint(col("t")).as("fp64"),
        TF.contentFingerprintMd5(col("t")).as("fpmd5"))
      .collect()
      .map(r => (if (r.isNullAt(1)) null else r.getLong(1),
                 if (r.isNullAt(2)) null else r.getString(2)))
    // the two keys must induce the same equality classes over the inputs
    for (a <- df; b <- df)
      assert((a._1 == b._1) == (a._2 == b._2), s"$a vs $b")
    assert(df.last._1 == null && df.last._2 == null) // null text → null keys
    // hex-md5 shape: 32 lowercase hex chars
    assert(df.init.forall(p => p._2.length == 32 && p._2.matches("[0-9a-f]{32}")))
  }

  test("charShingles: distinct n-grams, short text collapses to itself") {
    val df = Seq("abab", "ab").toDF("t")
    val out = df.select(TF.charShingles(col("t"), 3)).as[Seq[String]].collect()
    assert(out(0).toSet == Set("aba", "bab"))
    assert(out(1) == Seq("ab"))
  }

  test("wordNgrams: null text yields null, short text empty array — not legacy size(null)") {
    val df = Seq((1L, null.asInstanceOf[String]), (2L, "one two"), (3L, "a b c"))
      .toDF("id", "t")
    val out = df.select(col("id"), Kernels.wordNgrams(col("t"), 3).as("g"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[String](1))).toMap
    assert(out(1L) == null)          // null propagates, regardless of sizeOfNull conf
    assert(out(2L) == Seq.empty)     // fewer than n tokens
    assert(out(3L) == Seq("a b c"))
  }

  test("repetitionStats kernel equals the higher-order-function formulation") {
    val df = Seq("a b a a c", "x", "", "  \t ", "one two three two",
      null.asInstanceOf[String]).toDF("t")
    // the pre-kernel formulation, kept here as the executable reference
    val tk = TF.tokens(col("t"))
    val u = array_distinct(tk)
    val n = size(tk)
    val hof = struct(
      n.cast("long").as("n_tokens"),
      when(n > 0, round(size(u).cast("double") / n, 6)).as("distinct_ratio"),
      when(n > 0, round(array_max(transform(u,
        x => size(filter(tk, y => y === x)))).cast("double") / n, 6))
        .as("top_token_frac"))
    val rows = df.select(TF.repetitionStats(col("t")).as("k"), hof.as("h"))
      .select(col("k.n_tokens"), col("h.n_tokens"),
        col("k.distinct_ratio"), col("h.distinct_ratio"),
        col("k.top_token_frac"), col("h.top_token_frac"))
      .collect()
    // null text: kernel yields a NULL struct (getField -> null); the HOF
    // form yields n_tokens = -1 via legacy size(null) — the query-level
    // n_tokens > 0 gate treats both identically, so compare gated rows
    rows.filter(r => !r.isNullAt(0) && r.getLong(0) > 0).foreach { r =>
      assert(r.getLong(0) == r.getLong(1))
      assert(r.getDouble(2) == r.getDouble(3))
      assert(r.getDouble(4) == r.getDouble(5))
    }
    // gated out: "" (0 tokens) and NULL; the whitespace-only doc splits
    // into two boundary-empty tokens, so it IS compared above
    assert(rows.count(r => r.isNullAt(0) || r.getLong(0) <= 0) == 2)
  }

  test("dedupLinesWithin: first occurrence kept, blanks pass, exact comparison, null stays null") {
    val df = Seq(
      (1L, "nav menu\nbody text\nnav menu\nmore body\nnav menu"),
      (2L, "a\n\n\na\nb"),         // blanks survive even repeated
      (3L, "foo\nfoo \nfoo"),      // trailing space = a different line
      (4L, "only line"),
      (5L, null.asInstanceOf[String])
    ).toDF("id", "t")
    val out = df.select(col("id"), TF.dedupLinesWithin(col("t")).as("c"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(out(1L) == "nav menu\nbody text\nmore body")
    assert(out(2L) == "a\n\n\nb")
    assert(out(3L) == "foo\nfoo ")
    assert(out(4L) == "only line")
    assert(out(5L) == null)
  }

  test("redact + matchCount: planted PII scrubbed, counts exact, null stays null") {
    val df = Seq(
      (1L, "mail a.b+c@sub.example.org or x@y.io, call +1 555-0134"),
      (2L, "no pii here"),
      (3L, null.asInstanceOf[String])
    ).toDF("id", "t")
    val rules = Seq(TF.EmailPattern -> "<EMAIL>", "\\+1 555-[0-9]{4}" -> "<PHONE>")
    val out = df.select(col("id"), TF.redact(col("t"), rules).as("c"),
        TF.matchCount(col("t"), TF.EmailPattern).as("ne"))
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) null else r.getString(1)),
          (if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(out(1L) == (("mail <EMAIL> or <EMAIL>, call <PHONE>", 2L)))
    assert(out(2L) == (("no pii here", 0L)))
    assert(out(3L) == ((null, -1L)))
  }

  test("textStats kernel agrees with the column-composed functions") {
    val nasty = Seq(
      "", "   ", "\ta b\n", "one", "the quick brown fox and the dog",
      "le chat est dans la maison", "héllo wörld 123 !!!",
      "a  b\t\tc", "tab\tsep\tvals", "ALL CAPS THE AND OF",
      "mixed123abc!@# end", "\n\nleading ws", "trailing ws  \t")
    val df = nasty.toDF("t")
    val viaKernel = df.select(
      Kernels.textStats(col("t")).as("st")).select(
      col("st.n_tokens"), col("st.n_subtokens"),
      col("st.n_punct"), col("st.n_chars"),
      col("st.hits_en"), col("st.hits_fr"))
      .collect().map(_.toSeq).toSeq
    val viaColumns = df.select(
      TF.tokenCount(col("t")),
      KernelReferences.regexTokenCount(col("t")),
      (round(KernelReferences.punctRatio(col("t")) * length(col("t")))).cast("long"),
      length(col("t")).cast("long"),
      (round(KernelReferences.stopwordRatio(col("t")) * TF.tokenCount(col("t")))).cast("long"),
      lit(null))
      .collect().map(_.toSeq).toSeq
    viaKernel.zip(viaColumns).zip(nasty).foreach { case ((k, c), input) =>
      assert(k(0) == c(0), s"n_tokens for '$input'")
      assert(k(1) == c(1), s"n_subtokens for '$input'")
      assert(k(2) == c(2), s"n_punct for '$input'")
      assert(k(3) == c(3), s"n_chars for '$input'")
      assert(k(4) == c(4), s"hits_en for '$input'")
    }
  }

  test("simhashText kernel equals a direct sketch of the same tokens") {
    val df = Seq("Spark Engines AT scale", "  ", "one", "a\tb c").toDF("t")
    val viaText = df.select(Kernels.simHashText(col("t")))
      .as[Long].collect().toSeq
    val viaTokens = df.select(Kernels.simHash64(
        filter(TF.tokens(lower(col("t"))), x => length(x) > 0)))
      .as[Long].collect().toSeq
    assert(viaText == viaTokens)
  }

  test("simhash: identical tokens → identical hash; deterministic") {
    val df = Seq("spark engines at scale", "spark engines at scale",
      "entirely unrelated words here").toDF("t")
    val hs = df.select(Kernels.simHash64(TF.tokens(col("t")))).as[Long].collect()
    assert(hs(0) == hs(1))
    assert(hs(0) != hs(2))
  }
}
