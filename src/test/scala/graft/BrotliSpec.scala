package graft

import graft.functions.BrotliKernels
import org.scalatest.funsuite.AnyFunSuite

/** [[BrotliKernels]] against the REFERENCE brotli encoder (the
  * brotlicffi binding of the official library, via the container's
  * pinned interpreter): the decoder is checked on reference-encoder
  * output across qualities, window sizes, modes and data shapes — the
  * way ZstdSpec pins zstd. Low qualities exercise simple prefix codes
  * and uncompressed metablocks; high qualities exercise context
  * modeling, block switching and the static dictionary with
  * transforms. Corruption/truncation fuzz pins the fail-closed
  * contract.
  */
class BrotliSpec extends AnyFunSuite {

  private val py: Option[String] =
    Seq("/root/miniconda/bin/python3", "/usr/bin/python3")
      .find { p =>
        new java.io.File(p).canExecute && {
          val pr = new ProcessBuilder(p, "-c", "import brotlicffi").start()
          pr.waitFor() == 0
        }
      }

  private def refCompress(data: Array[Byte], quality: Int = 11,
                          lgwin: Int = 22,
                          mode: String = "MODE_GENERIC"): Array[Byte] = {
    val dir = java.nio.file.Files.createTempDirectory("br")
    val in = dir.resolve("in.raw"); val out = dir.resolve("out.br")
    java.nio.file.Files.write(in, data)
    val script =
      s"""import brotlicffi
         |d = open('$in','rb').read()
         |open('$out','wb').write(brotlicffi.compress(
         |  d, quality=$quality, lgwin=$lgwin, mode=brotlicffi.$mode))
         |""".stripMargin
    val p = new ProcessBuilder(py.get, "-c", script).inheritIO().start()
    assert(p.waitFor() == 0, "reference brotli compress failed")
    java.nio.file.Files.readAllBytes(out)
  }

  private def shapes: Seq[(String, Array[Byte])] = {
    val rnd = new scala.util.Random(0x7932)
    val dictWords = "time down life left back code data show only site " +
      "city open just like free work the of and that with from this have"
    Seq(
      "empty" -> Array.emptyByteArray,
      "one-byte" -> Array[Byte]('x'),
      "short-ascii" -> "hello world".getBytes("UTF-8"),
      // dictionary-dense English prose: at quality 11 the encoder
      // emits static-dictionary references with transforms
      "dict-words" -> (dictWords + " " + dictWords.toUpperCase + ". " +
        "The quick brown fox jumps over the lazy dog. " +
        "Attachment forwarding notification available immediately. " +
        dictWords.capitalize).getBytes("UTF-8"),
      "html" -> ("<html><body class=\"main\"><p>This is a test of the " +
        "emergency broadcast system.</p><a href=\"https://example.com/\">" +
        "link</a></body></html>" * 5).getBytes("UTF-8"),
      "utf8-multilingual" -> ("naïve café résumé — Привет мир — こんにちは" +
        "世界 — mañana übergroß ÉCOLE Über " * 8).getBytes("UTF-8"),
      "repetitive" -> ("abcabcabc" * 500).getBytes("UTF-8"),
      "runs" -> Array.fill[Byte](4096)(7),
      "random-2k" -> Array.fill[Byte](2048)(rnd.nextInt(256).toByte),
      "random-80k" -> Array.fill[Byte](80 * 1024)(rnd.nextInt(256).toByte),
      "text-1m" -> Array.tabulate[Byte](1 << 20) { i =>
        val words = "the of and to in is was for that with on as at by "
        words((i * 31 % 97 + i / 1024) % words.length).toByte
      },
      "binary-mixed" -> Array.tabulate[Byte](32 * 1024)(i =>
        ((i * 2654435761L >>> 13) & 0xff).toByte)
    )
  }

  /** The vendored corpus (ADVICE r16): tools/brotli_fixtures.py
    * compressed this deterministic shape set with the reference
    * encoder and committed the streams, so decoder-vs-reference
    * coverage no longer depends on a live interpreter — the live
    * matrix test below still runs (wider q/lgwin grid) when one
    * exists. Byte-for-byte mirror of the python generator. */
  private def vendorShapes: Map[String, Array[Byte]] = {
    val dictWords = "time down life left back code data show only site " +
      "city open just like free work the of and that with from this have"
    val html = ("<html><body class=\"main\"><p>This is a test of the " +
      "emergency broadcast system.</p><a href=\"https://example.com/\">" +
      "link</a></body></html>") * 5
    val utf8 = ("naïve café résumé — Привет мир — こんにちは" +
      "世界 — mañana übergroß ÉCOLE Über ") * 8
    Map(
      "empty" -> Array.emptyByteArray,
      "one-byte" -> Array[Byte]('x'),
      "short-ascii" -> "hello world".getBytes("UTF-8"),
      "dict-words" -> (dictWords + " " + dictWords.toUpperCase + ". " +
        "The quick brown fox jumps over the lazy dog. " +
        "Attachment forwarding notification available immediately. " +
        dictWords.capitalize).getBytes("UTF-8"),
      "html" -> html.getBytes("UTF-8"),
      "utf8" -> utf8.getBytes("UTF-8"),
      "repetitive" -> ("abcabcabc" * 500).getBytes("UTF-8"),
      "runs" -> Array.fill[Byte](4096)(7),
      "noise-2k" -> Array.tabulate[Byte](2048)(i =>
        ((i * 6364136223846793005L + 1442695040888963407L) >>> 33).toByte),
      "binary-8k" -> Array.tabulate[Byte](8192)(i =>
        ((i * 2654435761L) >> 13).toByte))
  }

  test("vendored reference-encoder streams round-trip (python-free)") {
    val path = java.nio.file.Paths.get("fixtures/brotli_ref_streams.tsv")
    assert(java.nio.file.Files.exists(path),
      "vendored brotli fixtures missing — run tools/brotli_fixtures.py")
    val exp = vendorShapes
    var cases = 0
    scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(path)).asScala
      .filterNot(l => l.startsWith("#") || l.isEmpty).foreach { line =>
        val Array(label, q, lgwin, mode, hex) = line.split("\t")
        val comp = hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
        val got = BrotliKernels.decompress(comp)
        assert(got != null,
          s"$label q=$q lgwin=$lgwin mode=$mode: decoder refused")
        assert(java.util.Arrays.equals(got, exp(label)),
          s"$label q=$q lgwin=$lgwin mode=$mode: roundtrip mismatch")
        cases += 1
      }
    assert(cases >= 70, s"vendored corpus unexpectedly small: $cases")
  }

  test("edge streams pinned against the reference decoder: " +
    "last+metadata accepted as empty, degenerate complex code refused") {
    // both verified against brotlicffi in tools/brotli_fixtures.py
    // (ADVICE r16): 0x1a = WBITS16, ISLAST, !ISLASTEMPTY, MNIBBLES=0
    // metadata, skip 0 -> b''; the second stream's literal tree is a
    // complex prefix code whose lengths collapse to one nonzero symbol
    // (Kraft space not exactly consumed) -> reference refuses.
    val metaLast = Array[Byte](0x1a)
    val got = BrotliKernels.decompress(metaLast)
    assert(got != null && got.length == 0, "0x1a must decode to empty")
    val degenerate = ("0200000070c00100000000000000080000000000000000000000" +
      "0000000000000000000000000000")
      .grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    assert(BrotliKernels.decompress(degenerate) == null,
      "single-nonzero-symbol complex code must be refused")
  }

  test("round-trips reference-encoder output across qualities, " +
    "windows and modes") {
    assume(py.isDefined, "no python with brotlicffi available — vendored " +
      "corpus test above still covers decoder-vs-reference")
    var cases = 0
    for ((name, data) <- shapes;
         q <- Seq(0, 1, 2, 5, 9, 11);
         lgwin <- Seq(10, 18, 24)) {
      val comp = refCompress(data, q, lgwin)
      val got = BrotliKernels.decompress(comp)
      assert(got != null, s"$name q=$q lgwin=$lgwin: decoder refused " +
        s"a valid stream (${comp.length} B)")
      assert(java.util.Arrays.equals(got, data),
        s"$name q=$q lgwin=$lgwin: roundtrip mismatch " +
          s"(${got.length} vs ${data.length} B)")
      cases += 1
    }
    // text mode biases toward UTF-8 context modeling + dictionary
    for ((name, data) <- shapes; mode <- Seq("MODE_TEXT", "MODE_FONT")) {
      val comp = refCompress(data, 11, 22, mode)
      assert(java.util.Arrays.equals(BrotliKernels.decompress(comp), data),
        s"$name $mode: roundtrip mismatch")
      cases += 1
    }
    info(s"$cases reference-encoder streams round-tripped")
  }

  test("fail-closed: truncations return null, corruption never throws") {
    assume(py.isDefined, "no python with brotlicffi available")
    val data = shapes.collectFirst { case ("dict-words", d) => d }.get
    val comp = refCompress(data, 11, 22)
    // every strict prefix is invalid: the stream either ends
    // mid-metablock or fails the trailing/padding checks
    var cut = 1
    while (cut < comp.length) {
      val t = java.util.Arrays.copyOf(comp, cut)
      assert(BrotliKernels.decompress(t) == null, s"prefix $cut accepted")
      cut += 1
    }
    val rnd = new scala.util.Random(0xb12)
    for (_ <- 0 until 500) {
      val m = comp.clone()
      val flips = 1 + rnd.nextInt(4)
      for (_ <- 0 until flips) {
        val i = rnd.nextInt(m.length)
        m(i) = (m(i) ^ (1 << rnd.nextInt(8))).toByte
      }
      BrotliKernels.decompress(m) // may be null or garbage; must not throw
    }
    for (_ <- 0 until 500) {
      val junk = Array.fill[Byte](rnd.nextInt(300))(rnd.nextInt(256).toByte)
      BrotliKernels.decompress(junk)
    }
    assert(BrotliKernels.decompress(Array.emptyByteArray) == null)
    assert(BrotliKernels.decompress(null) == null)
  }

  test("pinned hand-built streams: distance ring-buffer semantics " +
    "(initial 4/11/15/16 order, ±delta codes, push/no-push) match the " +
    "reference decoder byte for byte") {
    // generated by tools/brotli_probe.py and VERIFIED against
    // brotlicffi there: 32 distinct uncompressed bytes, then one
    // compressed metablock exercising each short distance code /
    // push sequence — the part of RFC 7932 section 4 that is easiest
    // to misread (round 16 shipped the initial order inverted until
    // these probes caught it). Python-free, so the pin holds on any
    // machine.
    val cases = Seq(
      ("short-code-0", "f001106162636465666768696a6b6c6d6e6f707172737475767778797a3031323334353100001e422f040900",
       "6162636465666768696a6b6c6d6e6f707172737475767778797a30313233343532333435"),
      ("short-code-1", "f001106162636465666768696a6b6c6d6e6f707172737475767778797a3031323334353100001e422f048900",
       "6162636465666768696a6b6c6d6e6f707172737475767778797a30313233343576777879"),
      ("short-code-2", "f001106162636465666768696a6b6c6d6e6f707172737475767778797a3031323334353100001e422f040901",
       "6162636465666768696a6b6c6d6e6f707172737475767778797a30313233343572737475"),
      ("short-code-3", "f001106162636465666768696a6b6c6d6e6f707172737475767778797a3031323334353100001e422f048901",
       "6162636465666768696a6b6c6d6e6f707172737475767778797a30313233343571727374"),
      ("short-code-4", "f001106162636465666768696a6b6c6d6e6f707172737475767778797a3031323334353100001e422f040902",
       "6162636465666768696a6b6c6d6e6f707172737475767778797a30313233343533343533"),
      ("short-code-5", "f001106162636465666768696a6b6c6d6e6f707172737475767778797a3031323334353100001e422f048902",
       "6162636465666768696a6b6c6d6e6f707172737475767778797a30313233343531323334"),
      ("short-code-8", "f001106162636465666768696a6b6c6d6e6f707172737475767778797a3031323334353100001e422f040904",
       "6162636465666768696a6b6c6d6e6f707172737475767778797a30313233343535353535"),
      ("short-code-10", "f001106162636465666768696a6b6c6d6e6f707172737475767778797a3031323334353100001e422f040905",
       "6162636465666768696a6b6c6d6e6f707172737475767778797a3031323334357778797a"),
      ("short-code-15", "f001106162636465666768696a6b6c6d6e6f707172737475767778797a3031323334353100001e422f048907",
       "6162636465666768696a6b6c6d6e6f707172737475767778797a30313233343573747576"),
      ("push5-c0", "f001106162636465666768696a6b6c6d6e6f707172737475767778797a3031323334357100001e422f04290025",
       "6162636465666768696a6b6c6d6e6f707172737475767778797a3031323334353132333435313233"),
      ("push5-c3", "f001106162636465666768696a6b6c6d6e6f707172737475767778797a3031323334357100001e422f04a90125",
       "6162636465666768696a6b6c6d6e6f707172737475767778797a3031323334353132333476777879"),
      ("implied-last", "f001106162636465666768696a6b6c6d6e6f707172737475767778797a3031323334357100001e42af0410a4009401",
       "6162636465666768696a6b6c6d6e6f707172737475767778797a3031323334353132333435313233"))
    def unhex(s: String): Array[Byte] =
      s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    for ((label, comp, want) <- cases) {
      val got = BrotliKernels.decompress(unhex(comp))
      assert(got != null, s"$label: refused")
      assert(java.util.Arrays.equals(got, unhex(want)), s"$label: mismatch")
    }
  }

  test("brotli_decompress: SQL function + column form decode in-plan, " +
    "NULL fail-closed") {
    val spark = SparkSpec.session
    import spark.implicits._
    val brPage = ("1b2500004427471ad841be93b795b51504d5843032c94232b528" +
      "9404253d9cc6bfdac3366f891cf100") // "<html><body>payload text</body></html>" at q=9
      .grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val df = Seq((1, brPage), (2, "junk".getBytes("UTF-8"))).toDF("id", "b")
    df.createOrReplaceTempView("br_t")
    val rows = spark.sql(
      "SELECT id, CAST(brotli_decompress(b) AS STRING) AS t " +
        "FROM br_t ORDER BY id").collect()
    assert(rows(0).getString(1) == "<html><body>payload text</body></html>")
    assert(rows(1).isNullAt(1))
    val viaCol = df.select(org.apache.spark.sql.Kernels
      .brotliDecompress(org.apache.spark.sql.functions.col("b")).as("d"))
      .collect().map(r => Option(r.getAs[Array[Byte]]("d")))
    assert(viaCol.count(_.isDefined) == 1)
  }

  test("known stream: empty input compresses to a decodable stream") {
    assume(py.isDefined, "no python with brotlicffi available")
    val comp = refCompress(Array.emptyByteArray)
    val got = BrotliKernels.decompress(comp)
    assert(got != null && got.length == 0)
  }
}
