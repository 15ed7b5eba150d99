package graft

import graft.functions.{TextFunctions => TF}
import graft.operators.{Bpe, Importance}
import org.apache.spark.sql.Kernels
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The round-8 text kernels are plain codegen expressions, so they run
  * unchanged inside Structured Streaming — this pins batch/stream
  * parity for the pipeline a streaming ingest would actually run:
  * blocklist screening + BPE encode + importance bucketing per
  * micro-batch document.
  */
class StreamingKernelsSpec extends SparkSpec {
  import spark.implicits._

  test("blocklist + BPE encode + importance bucket: stream equals batch") {
    val docs = Seq(
      (1L, "aaab spam aaab ab"),
      (2L, "ab clean ab aaab"),
      (3L, "spam spam"))
    // merges and buckets are driver-built (as a streaming job would:
    // train offline, broadcast into the 24/7 ingest query)
    val merges = Bpe.train(docs.toDF("doc_id", "text"), "text", 4)
    def pipeline(df: org.apache.spark.sql.DataFrame) = df.select(
      col("doc_id"),
      TF.multiMatch(col("text"), Seq("spam", "junk")).as("blocked"),
      Bpe.tokens(col("text"), merges).as("toks"),
      Importance.bucket(col("text"), 64).as("b"))

    val batch = pipeline(docs.toDF("doc_id", "text"))
      .collect().map(_.toSeq).toSet

    val input = MemoryStream[(Long, String)](spark, numPartitions = 1)
    val q = pipeline(input.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("kernels_stream")
      .outputMode("append").start()
    input.addData(docs: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("kernels_stream").collect().map(_.toSeq).toSet
    assert(streamed == batch)
    // and the kernels did real work: doc 3 hits the blocklist, tokens flow
    val byId = batch.groupBy(_.head).map { case (k, v) => k -> v.head }
    assert(byId(3L)(1).asInstanceOf[scala.collection.Seq[String]].contains("spam"))
    assert(byId(2L)(1).asInstanceOf[scala.collection.Seq[String]].isEmpty)
    assert(byId(1L)(2).asInstanceOf[scala.collection.Seq[String]].nonEmpty)
  }

  test("DSIR scoring end-to-end: stream-static ratio join equals batch score") {
    val buckets = 64
    // offline fit, exactly as a 24/7 ingest would: the ratio frame is
    // built once from static target/source corpora and broadcast into
    // the streaming query as the static side of a stream-static join
    val target = Seq("good tokens flow here", "more good tokens").toDF("text")
    val source = Seq("noise noise junk", "filler words everywhere").toDF("text")
    val ratios = Importance.fitLogRatios(target, source, "text", buckets)

    val docs = Seq(
      (1L, "good tokens"),
      (2L, "noise junk filler"),
      (3L, "good noise"),
      (4L, "unseen vocabulary entirely"))
    val batch = Importance
      .score(docs.toDF("doc_id", "text"), "text", "doc_id", ratios, buckets)
      .filter(col("n_words") > 0) // a streaming APPEND of scored docs has
      // no row for word-less documents (nothing to aggregate); the batch
      // left-join keeps them — restrict parity to the scored family
      .collect().map(_.toSeq).toSet

    val input = MemoryStream[(Long, String)](spark, numPartitions = 1)
    val scored = input.toDS().toDF("doc_id", "text")
      .select(col("doc_id"), explode(Bpe.wordsCol(col("text"))).as("w"))
      .select(col("doc_id"), Importance.bucket(col("w"), buckets).as("b"))
      .join(broadcast(ratios), Seq("b")) // stream-static: model broadcast
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), round(avg("lambda"), 6).as("score"))
    val q = scored.writeStream.format("memory").queryName("dsir_stream")
      .outputMode("complete").start()
    input.addData(docs: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("dsir_stream").collect().map(_.toSeq).toSet
    assert(streamed == batch)
    // the model did real work: the target-ish doc outranks the source-ish
    val score = streamed.map(r => r.head -> r(2)).toMap
    assert(score(1L).asInstanceOf[Double] > score(2L).asInstanceOf[Double])
  }

  test("classifier scoring: stateless stream projection equals batch trainScore") {
    import graft.operators.Classifier
    val docs = (1 to 60).map { i =>
      val pos = i % 2 == 0
      val vocab = if (pos) Seq("alpha", "bravo", "charlie")
      else Seq("zulu", "yankee", "xray")
      (i.toLong, (0 until 5).map(k => vocab((i + k) % 3)).mkString(" "), pos)
    }
    val df = docs.toDF("doc_id", "text", "y")
    // offline training (the batch job), then the weight vector rides
    // into the streaming query as data — scoreRows is a pure
    // projection, so APPEND mode needs no watermark or state
    val w = Classifier.train(
      Classifier.perDocFeatures(df, "text", "doc_id", col("y"), 64),
      buckets = 64, iters = 4, lr = 2.0)
    val batch = Classifier
      .trainScore(df, "text", "doc_id", col("y"), buckets = 64,
        iters = 4, lr = 2.0)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap

    val input = MemoryStream[(Long, String)](spark, numPartitions = 1)
    val q = Classifier
      .scoreRows(input.toDS().toDF("doc_id", "text"), "text", "doc_id",
        w, buckets = 64)
      .writeStream.format("memory").queryName("cls_stream")
      .outputMode("append").start()
    input.addData(docs.map(d => (d._1, d._2)): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("cls_stream")
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    // EXACT score equality — same fixed-point fold, different row order
    assert(streamed == batch)
    // and the model separates: every even doc above 0.5, odd below
    assert(docs.forall { case (id, _, pos) => (streamed(id) > 0.5) == pos })
  }

  test("r14 crawl kernels (gunzip, sitemap_entries, pdf_text, dhash64): " +
    "stateless projections, stream equals batch") {
    def gz(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(b); g.close(); bos.toByteArray
    }
    val sm = "<urlset><url><loc>https://a.example/p</loc></url></urlset>"
    val pgm = "P5\n9 8\n255\n".getBytes("ISO-8859-1") ++
      Array.tabulate(72)(i => ((i * 37) % 256).toByte)
    val pdf = { // minimal classic-xref PDF (the PdfSpec recipe, one page)
      val out = new java.io.ByteArrayOutputStream()
      def es(x: String): Unit = out.write(x.getBytes("ISO-8859-1"))
      val offs = scala.collection.mutable.ArrayBuffer[Long]()
      es("%PDF-1.4\n")
      offs += out.size(); es("1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n")
      offs += out.size(); es("2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n")
      offs += out.size(); es("3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n")
      offs += out.size(); es("4 0 obj << /Length 21 >> stream\nBT (stream pdf) Tj ET\nendstream endobj\n")
      val xo = out.size()
      es("xref\n0 5\n0000000000 65535 f \n")
      offs.foreach(o => es(f"$o%010d 00000 n \n"))
      es(s"trailer << /Size 5 /Root 1 0 R >>\nstartxref\n$xo\n%%EOF")
      out.toByteArray
    }
    val rows = Seq(
      (1L, gz(sm.getBytes("UTF-8")), pdf, pgm),
      (2L, "not gzip".getBytes("UTF-8"), "not pdf".getBytes("UTF-8"),
        "not img".getBytes("UTF-8")))
    def pipeline(df: org.apache.spark.sql.DataFrame) = df.select(
      col("id"),
      element_at(Kernels.sitemapEntries(
        decode(Kernels.gunzip(col("smgz")), "UTF-8")), 1)
        .getField("loc").as("loc"),
      Kernels.pdfText(col("pdf")).as("ptext"),
      Kernels.pdfMeta(col("pdf")).getField("n_pages").as("np"),
      Kernels.dHash64(col("img")).as("dh"))
    val batch = pipeline(rows.toDF("id", "smgz", "pdf", "img"))
      .collect().map(_.toSeq).toSet
    val input = MemoryStream[(Long, Array[Byte], Array[Byte], Array[Byte])](
      spark, numPartitions = 1)
    val q = pipeline(input.toDS().toDF("id", "smgz", "pdf", "img"))
      .writeStream.format("memory").queryName("crawl14_stream")
      .outputMode("append").start()
    input.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("crawl14_stream").collect().map(_.toSeq).toSet
    assert(streamed == batch)
    val byId = batch.groupBy(_.head).map { case (k, v) => k -> v.head }
    assert(byId(1L)(1) == "https://a.example/p")
    assert(byId(1L)(2) == "stream pdf" && byId(1L)(3) == 1)
    assert(byId(1L)(4) != null)
    assert(byId(2L)(1) == null && byId(2L)(2) == null && byId(2L)(4) == null)
  }

  test("r14 container kernels (zip_extract, tar_extract, html_tables): " +
    "stateless projections, stream equals batch") {
    val zip = {
      val bos = new java.io.ByteArrayOutputStream()
      val zo = new java.util.zip.ZipOutputStream(bos)
      zo.putNextEntry(new java.util.zip.ZipEntry("m.txt"))
      zo.write("zip stream member".getBytes("UTF-8"))
      zo.closeEntry(); zo.close(); bos.toByteArray
    }
    val tarb = {
      val data = "tar stream member".getBytes("UTF-8")
      val h = new Array[Byte](512)
      def put(off: Int, s: String): Unit =
        System.arraycopy(s.getBytes("ISO-8859-1"), 0, h, off, s.length)
      put(0, "m.txt"); put(100, "0000644 "); put(108, "0000000 ")
      put(116, "0000000 "); put(124, f"${data.length}%011o" + " ")
      put(136, "00000000000 "); h(156) = '0'.toByte; put(257, "ustar 00")
      java.util.Arrays.fill(h, 148, 156, ' '.toByte)
      var sum = 0L; h.foreach(b => sum += (b & 0xff))
      put(148, f"$sum%06o" + "  ")
      h ++ java.util.Arrays.copyOf(data, 512) ++ new Array[Byte](1024)
    }
    val html = "<table><tr><td>streamed cell</td></tr></table>"
    val rows = Seq((1L, zip, tarb, html),
      (2L, "junk".getBytes("UTF-8"), "junk".getBytes("UTF-8"), "<table><tr>"))
    def pipeline(df: org.apache.spark.sql.DataFrame) = df.select(
      col("id"),
      decode(Kernels.zipExtract(col("z"), lit("m.txt")), "UTF-8").as("zt"),
      decode(Kernels.tarExtract(col("t"), lit("m.txt")), "UTF-8").as("tt"),
      Kernels.htmlTables(col("h")).as("cells"))
    val batch = pipeline(rows.toDF("id", "z", "t", "h")).collect().map(_.toSeq).toSet
    val input = MemoryStream[(Long, Array[Byte], Array[Byte], String)](
      spark, numPartitions = 1)
    val q = pipeline(input.toDS().toDF("id", "z", "t", "h"))
      .writeStream.format("memory").queryName("cont14_stream")
      .outputMode("append").start()
    input.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    assert(spark.table("cont14_stream").collect().map(_.toSeq).toSet == batch)
    val byId = batch.groupBy(_.head).map { case (k, v) => k -> v.head }
    assert(byId(1L)(1) == "zip stream member" && byId(1L)(2) == "tar stream member")
    assert(byId(2L)(1) == null && byId(2L)(2) == null && byId(2L)(3) == null)
  }

  test("langid model: one-vs-rest argmax is a stateless stream " +
    "projection, stream equals batch, multi-script separation") {
    import graft.operators.Classifier
    val langs = Seq("en", "ru", "el")
    val vocab = Map(
      "en" -> Seq("the", "house", "water", "bread", "good", "and"),
      "ru" -> Seq("дом", "вода", "хлеб", "хорошо", "день", "не"),
      "el" -> Seq("και", "νερό", "ψωμί", "σπίτι", "καλό", "ημέρα"))
    val docs = (1 to 60).map { i =>
      val lang = langs(i % 3)
      val v = vocab(lang)
      (i.toLong, (0 until 6).map(k => v((i + k) % v.size)).mkString(" "), lang)
    }
    val df = docs.toDF("doc_id", "text", "lang")
    val (buckets, n) = (128, 3)
    // offline one-vs-rest training; the weight vectors ride into the
    // streaming query as data — prediction is argmax over exact
    // fixed-point scores, a pure projection (no state, APPEND mode)
    val ws = Classifier.trainLangId(
      Classifier.perDocCharFeatures(df, "text", "doc_id", col("lang"), buckets, n),
      langs, buckets, iters = 4, lr = 2.0)
    def pipeline(in: org.apache.spark.sql.DataFrame) = in.select(
      col("doc_id"),
      Classifier.langIdPredictCol(
        Classifier.charBucketSet(col("text"), buckets, n), langs, ws)
        .as("predicted"))
    val batch = pipeline(df).as[(Long, String)].collect().toMap

    val input = MemoryStream[(Long, String)](spark, numPartitions = 1)
    val q = pipeline(input.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("langid_stream")
      .outputMode("append").start()
    input.addData(docs.map(d => (d._1, d._2)): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("langid_stream")
      .as[(Long, String)].collect().toMap
    assert(streamed == batch)
    // and the model actually separates the three scripts
    assert(docs.forall { case (id, _, lang) => streamed(id) == lang })
  }

  test("crawl cleaning front-end: html_extract + quality rules + url_parts, stream equals batch") {
    // the r13 crawl kernels are stateless codegen projections — the
    // exact shape a 24/7 ingest query runs per micro-batch page
    val pages = Seq(
      (1L, "<p>The data flows with care.</p><script>x<y</script>",
        "HTTP://Example.COM:80/a/../b?utm_source=x&q=1"),
      (2L, "<ul><li>plain &amp; simple</li></ul>", "not a url"),
      (3L, null.asInstanceOf[String], "https://Sub.Host.org/path/"))
    def pipeline(df: org.apache.spark.sql.DataFrame) = df.select(
      col("doc_id"),
      Kernels.htmlExtract(col("html")).as("text"),
      TF.gopherRules(Kernels.htmlExtract(col("html")), minWords = 3)
        .getField("keep").as("gopher_keep"),
      TF.c4Rules(Kernels.htmlExtract(col("html")))
        .getField("n_kept_lines").as("c4_kept"),
      Kernels.urlParts(col("url")).getField("normalized").as("canon_url"))

    val batch = pipeline(pages.toDF("doc_id", "html", "url"))
      .collect().map(_.toSeq).toSet

    val input = MemoryStream[(Long, String, String)](spark, numPartitions = 1)
    val q = pipeline(input.toDS().toDF("doc_id", "html", "url"))
      .writeStream.format("memory").queryName("crawl_stream")
      .outputMode("append").start()
    input.addData(pages: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("crawl_stream").collect().map(_.toSeq).toSet
    assert(streamed == batch)
    // and the kernels did real work across the batch
    val byId = batch.groupBy(_.head).map { case (k, v) => k -> v.head }
    assert(byId(1L)(1) == "The data flows with care.")
    assert(byId(1L)(4) == "http://example.com/b?q=1")
    assert(byId(2L)(1) == "plain & simple")
    assert(byId(2L)(4) == null)
    assert(byId(3L)(1) == null)
    assert(byId(3L)(4) == "https://sub.host.org/path/")
  }

  test("r15 kernels (zstd_decompress, xlsx_cells, codec dhash64): " +
    "stateless projections, stream equals batch") {
    import graft.functions.{ImageEncoders, ZstdKernels}
    val xlsx = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.ZipOutputStream(bos)
      z.putNextEntry(new java.util.zip.ZipEntry("xl/worksheets/sheet1.xml"))
      z.write(("<worksheet><sheetData><row r=\"1\">" +
        "<c r=\"B1\" t=\"inlineStr\"><is><t>cell one</t></is></c>" +
        "</row></sheetData></worksheet>").getBytes("UTF-8"))
      z.closeEntry(); z.close(); bos.toByteArray
    }
    val png = ImageEncoders.pngGray(9, 8,
      Array.tabulate(72)(i => (i * 41) % 256))
    val zst = ZstdKernels.compressStore(
      "zstd streamed payload".getBytes("UTF-8"), withChecksum = true)
    val rows = Seq(
      (1L, zst, xlsx, png),
      (2L, "junk".getBytes("UTF-8"), "junk".getBytes("UTF-8"),
        "junk".getBytes("UTF-8")))
    def pipeline(df: org.apache.spark.sql.DataFrame) = df.select(
      col("id"),
      decode(Kernels.zstdDecompress(col("zst")), "UTF-8")
        .as("ztext"),
      element_at(Kernels.xlsxCells(col("xl")), 1)
        .getField("value").as("cell"),
      Kernels.dHash64(col("img")).as("dh"))
    val batch = pipeline(rows.toDF("id", "zst", "xl", "img"))
      .collect().map(_.toSeq).toSet
    val input = MemoryStream[(Long, Array[Byte], Array[Byte], Array[Byte])](
      spark, numPartitions = 1)
    val q = pipeline(input.toDS().toDF("id", "zst", "xl", "img"))
      .writeStream.format("memory").queryName("r15_stream")
      .outputMode("append").start()
    input.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("r15_stream").collect().map(_.toSeq).toSet
    assert(streamed == batch)
    val byId2 = batch.groupBy(_.head).map { case (k, v) => k -> v.head }
    assert(byId2(1L)(1) == "zstd streamed payload")
    assert(byId2(1L)(2) == "cell one")
    assert(byId2(1L)(3) == graft.functions.PHashKernels.dhash64(png).longValue())
    assert(byId2(2L)(1) == null && byId2(2L)(2) == null && byId2(2L)(3) == null)
  }

  test("r16 kernels (brotli_decompress, audio/video dhash, doc_text, " +
    "parquet_meta, hinted decode_text): stateless projections, " +
    "stream equals batch") {
    import graft.functions.{CfbKernels, WebpKernels}
    // brotli: pinned reference-encoder bytes of "payload text" page
    val br = ("1b2500004427471ad841be93b795b51504d5843032c94232b528" +
      "9404253d9cc6bfdac3366f891cf100")
      .grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val wav = { // 130-sample 8-bit mono WAV
      val samples = Array.tabulate[Byte](130)(k => ((k * 37) % 256).toByte)
      val bos = new java.io.ByteArrayOutputStream()
      def a(s: String) = bos.write(s.getBytes("US-ASCII"))
      def le32(v: Int) = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff)
        bos.write((v >> 16) & 0xff); bos.write((v >> 24) & 0xff) }
      def le16(v: Int) = { bos.write(v & 0xff); bos.write((v >> 8) & 0xff) }
      a("RIFF"); le32(36 + 130); a("WAVE"); a("fmt "); le32(16)
      le16(1); le16(1); le32(8000); le32(8000); le16(1); le16(8)
      a("data"); le32(130); bos.write(samples); bos.toByteArray
    }
    val webp = WebpKernels.encodeLossless(12, 10,
      Array.tabulate(120)(i => 0xff000000 | ((i % 12) * 21 << 16) |
        ((i % 12) * 21 << 8) | (i % 12) * 21))
    val doc = CfbKernels.buildDoc("streamed doc text", unicode = false)
    val cjk = ("""<meta charset="gbk">""".getBytes("US-ASCII") ++
      "你好".getBytes("GBK"))
    val rows = Seq(
      (1L, br, wav, webp, doc, cjk),
      (2L, "x".getBytes, "x".getBytes, "x".getBytes, "x".getBytes,
        "plain ascii".getBytes))
    def pipeline(df: org.apache.spark.sql.DataFrame) = df.selectExpr(
      "id",
      "CAST(brotli_decompress(br) AS STRING) AS btext",
      "audio_dhash64(wav) AS ah",
      "dhash64(img) AS ih",
      "doc_text(doc) AS dtext",
      "decode_text(cjk).encoding AS enc")
    val batch = pipeline(rows.toDF("id", "br", "wav", "img", "doc", "cjk"))
      .collect().map(_.toSeq).toSet
    val input = MemoryStream[(Long, Array[Byte], Array[Byte], Array[Byte],
      Array[Byte], Array[Byte])](spark, numPartitions = 1)
    val q = pipeline(input.toDS().toDF("id", "br", "wav", "img", "doc", "cjk"))
      .writeStream.format("memory").queryName("r16_stream")
      .outputMode("append").start()
    input.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("r16_stream").collect().map(_.toSeq).toSet
    assert(streamed == batch)
    val byId = batch.groupBy(_.head).map { case (k, v) => k -> v.head }
    assert(byId(1L)(1) == "<html><body>payload text</body></html>")
    assert(byId(1L)(2) ==
      graft.functions.AudioKernels.energyDhash64(wav).longValue())
    assert(byId(1L)(4) == "streamed doc text")
    assert(byId(1L)(5) == "gbk")
    assert(byId(2L)(1) == null && byId(2L)(2) == null && byId(2L)(4) == null)
    assert(byId(2L)(5) == "utf-8")
  }

  test("r17 kernels (xls_cells, ppt_text, rtf_text, eml_parts, " +
    "id3_tags, feed_entries, pdf_images, archive triage, zstd dict): " +
    "stateless projections, stream equals batch") {
    import graft.functions.{ArchiveKernels, Id3Kernels, PptKernels,
      XlsKernels, ZstdDictFixture}
    val xls = XlsKernels.build(Seq(Seq(
      XlsKernels.XSst(0, 0, "stream cell"), XlsKernels.XNum(1, 1, 2.5))))
    val ppt = PptKernels.build(PptKernels.textBytes("stream deck"))
    val rtf = """{\rtf1 stream body\par}""".getBytes("ISO-8859-1")
    val eml = "From: s@t\nSubject: stream mail\n\nmail body"
      .getBytes("ISO-8859-1")
    val mp3 = Id3Kernels.buildV2(3, Seq(("TIT2", "stream song", 0))) ++
      Id3Kernels.buildFrames(2)
    val feed = "<feed><entry><title>st</title><link href=\"u\"/></entry></feed>"
    val sz = ArchiveKernels.build7z(Array[Byte](1, 2, 3), Array[Byte](0x01))
    val zf = ZstdDictFixture.frame0Hex
      .grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val zd = ZstdDictFixture.dictHex
      .grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val rows = Seq(
      (1L, xls, ppt, rtf, eml, mp3, feed, sz, zf),
      (2L, "x".getBytes, "x".getBytes, "x".getBytes, "x".getBytes,
        "x".getBytes, "nope", "x".getBytes, "x".getBytes))
    def pipeline(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("zd", lit(zd))
      .selectExpr(
        "id",
        "size(xls_cells(xls)) AS ncells",
        "ppt_text(ppt) AS deck",
        "rtf_text(rtf) AS rtf_t",
        "eml_parts(eml).subject AS subj",
        "id3_tags(mp3).title AS song",
        "size(feed_entries(feed)) AS nfeed",
        "sevenzip_meta(sz).pack_bytes AS pb",
        "CAST(zstd_decompress(zf, zd) AS STRING) AS zt")
    val batch = pipeline(rows.toDF("id", "xls", "ppt", "rtf", "eml",
      "mp3", "feed", "sz", "zf")).collect().map(_.toSeq).toSet
    val input = MemoryStream[(Long, Array[Byte], Array[Byte], Array[Byte],
      Array[Byte], Array[Byte], String, Array[Byte], Array[Byte])](
      spark, numPartitions = 1)
    val q = pipeline(input.toDS().toDF("id", "xls", "ppt", "rtf", "eml",
      "mp3", "feed", "sz", "zf"))
      .writeStream.format("memory").queryName("r17_stream")
      .outputMode("append").start()
    input.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("r17_stream").collect().map(_.toSeq).toSet
    assert(streamed == batch)
    val byId = batch.groupBy(_.head).map { case (k, v) => k -> v.head }
    assert(byId(1L)(1) == 2 && byId(1L)(2) == "stream deck")
    assert(byId(1L)(3) == "stream body\n")
    assert(byId(1L)(4) == "stream mail" && byId(1L)(5) == "stream song")
    assert(byId(1L)(6) == 1 && byId(1L)(7) == 3L)
    assert(byId(1L)(8) == ZstdDictFixture.payload0)
    assert((1 to 8).forall(k => byId(2L)(k) == null))
  }

  test("r17 kernels, second batch (pptx_text, document_text, " +
    "mbox_messages, html_meta, font_meta, svg imageMeta): stateless " +
    "projections, stream equals batch") {
    import graft.functions.FontKernels
    val pptx = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.ZipOutputStream(bos)
      z.putNextEntry(new java.util.zip.ZipEntry("ppt/slides/slide1.xml"))
      z.write("<p:sld><a:p><a:t>stream slide</a:t></a:p></p:sld>"
        .getBytes("UTF-8"))
      z.closeEntry(); z.close(); bos.toByteArray
    }
    val mbox = ("From a@b Mon Jan  1 00:00:00 2024\n" +
      "From: a@b\nSubject: sm\n\nbody").getBytes("ISO-8859-1")
    val font = FontKernels.buildSfnt(otf = false, Seq(
      "name" -> FontKernels.buildNameTable("Stream Sans"),
      "maxp" -> FontKernels.buildMaxp(4)))
    val svg = """<svg width="33" height="44"/>""".getBytes("UTF-8")
    val html = "<html lang=\"de\"><title>st</title>" +
      "<meta property=\"og:title\" content=\"ogt\">"
    val rows = Seq(
      (1L, pptx, mbox, font, svg, html),
      (2L, "x".getBytes, "x".getBytes, "x".getBytes, "x".getBytes, "nah"))
    def pipeline(df: org.apache.spark.sql.DataFrame) = {
      import graft.operators.Multimodal
      df.select(col("id"),
        Kernels.pptxText(col("px")).as("deck"),
        Multimodal.documentText(col("px")).as("dtext"),
        size(Kernels.mboxMessages(col("mb"))).as("nmsg"),
        Kernels.fontMeta(col("ft")).getField("family").as("fam"),
        Kernels.imageMeta(col("sv")).getField("format").as("ifmt"),
        Kernels.htmlMeta(col("ht")).getField("og_title").as("ogt"))
    }
    val batch = pipeline(rows.toDF("id", "px", "mb", "ft", "sv", "ht"))
      .collect().map(_.toSeq).toSet
    val input = MemoryStream[(Long, Array[Byte], Array[Byte], Array[Byte],
      Array[Byte], String)](spark, numPartitions = 1)
    val q = pipeline(input.toDS().toDF("id", "px", "mb", "ft", "sv", "ht"))
      .writeStream.format("memory").queryName("r17b_stream")
      .outputMode("append").start()
    input.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("r17b_stream").collect().map(_.toSeq).toSet
    assert(streamed == batch)
    val byId = batch.groupBy(_.head).map { case (k, v) => k -> v.head }
    assert(byId(1L)(1) == "stream slide" && byId(1L)(2) == "stream slide")
    assert(byId(1L)(3) == 1 && byId(1L)(4) == "Stream Sans")
    assert(byId(1L)(5) == "svg" && byId(1L)(6) == "ogt")
    // junk row: everything refuses EXCEPT document_text, whose
    // fallback correctly reads unknown bytes as plain text
    assert(byId(2L)(1) == null && byId(2L)(2) == "x")
    assert(byId(2L)(3) == null && byId(2L)(4) == null)
    assert(byId(2L)(5) == null && byId(2L)(6) == null)
  }

  test("r17 kernels, third batch (exif_meta, lzw + lz4 compress/" +
    "decompress): stateless projections, stream equals batch") {
    import graft.functions.{ExifKernels, LzwKernels}
    import graft.operators.Multimodal
    val exif = ExifKernels.buildExif(3, "Stream", "Cam S",
      "2020:01:02 03:04:05", Some((12.5, -45.25)))
    val z = LzwKernels.compress("stream lzw payload".getBytes("UTF-8"))
    val rows = Seq((1L, exif, z, "dynamic text"),
      (2L, "x".getBytes, "x".getBytes, "other"))
    def pipeline(df: org.apache.spark.sql.DataFrame) = df.select(col("id"),
      Kernels.exifMeta(col("ex")).getField("model").as("model"),
      Kernels.lzwDecompress(col("lz")).cast("string").as("unz"),
      Kernels.lzwDecompress(Kernels.lzwCompress(encode(col("tx"),
        "UTF-8"))).cast("string").as("rt"),
      Kernels.lz4Decompress(Kernels.lz4CompressStore(encode(col("tx"),
        "UTF-8"))).cast("string").as("rt4"))
    val batch = pipeline(rows.toDF("id", "ex", "lz", "tx"))
      .collect().map(_.toSeq).toSet
    val input = MemoryStream[(Long, Array[Byte], Array[Byte], String)](
      spark, numPartitions = 1)
    val q = pipeline(input.toDS().toDF("id", "ex", "lz", "tx"))
      .writeStream.format("memory").queryName("r17c_stream")
      .outputMode("append").start()
    input.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("r17c_stream").collect().map(_.toSeq).toSet
    assert(streamed == batch)
    val byId = batch.groupBy(_.head).map { case (k, v) => k -> v.head }
    assert(byId(1L)(1) == "Cam S" && byId(1L)(2) == "stream lzw payload")
    assert(byId(1L)(3) == "dynamic text" && byId(2L)(3) == "other")
    assert(byId(1L)(4) == "dynamic text" && byId(2L)(4) == "other")
    assert(byId(2L)(1) == null && byId(2L)(2) == null)
  }
}
