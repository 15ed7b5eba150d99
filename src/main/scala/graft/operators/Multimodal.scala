package graft.operators

import org.apache.spark.sql.{DataFrame, Kernels}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video travel as opaque
  * `binary` columns with typed metadata; decode / feature-extract /
  * resize run batched per partition.
  *
  * Decode is REAL for every still-image and audio family the engine
  * featurizes — uncompressed 24-bit BMP, binary PPM/PGM, baseline AND
  * progressive JPEG (rounds 8/11), PNG at every legal (type, depth)
  * pair incl. sub-byte and Adam7 (rounds 9–11), GIF87a/89a LZW with
  * the full animation walk (rounds 9/11), and baseline TIFF with
  * PackBits/LZW (round 11) decode to dimensions + mean-RGB via
  * [[graft.functions.RasterKernels]] and its per-format kernels
  * ([[raster]]) — every format [[imageMeta]] can triage now decodes
  * to pixels — and integer-PCM/G.711/IMA-ADPCM WAV decodes to
  * frame/amplitude statistics via [[graft.functions.AudioKernels]]
  * ([[pcm]]); q_multimodal_features, q_jpeg_features, q_png_features,
  * q_gif_features, q_gif_frames, q_tiff_features, q_audio_features,
  * q_audio_g711, and q_audio_adpcm hash-check these paths against the
  * DuckDB oracle.
  * Only VIDEO pixel data (MP4/ffmpeg codecs, not in this environment)
  * remains a clearly-marked deterministic STUB — with everything
  * Spark-side real and tested: schema, batching shape, partition-local
  * execution, output contract. Swapping [[stub]] for a JNI/ONNX
  * decoder changes no plan shape.
  *
  * Scale notes: every decode path — metadata triage, frame demux,
  * featurize — is a codegen Catalyst expression in a narrow projection
  * (round 13 removed the last `df.rdd` barrier from featurize), so the
  * blobs never shuffle and never leave
  * Tungsten: only the (tiny) feature output ever moves, and the whole
  * spine stays inside whole-stage codegen under AQE.
  */
object Multimodal {

  /** REAL (non-stub) container-header metadata: struct(format, width,
    * height) for png/gif/bmp/jpeg blobs, NULL for unrecognized or
    * truncated ones — the codec-free triage pass that filters/routes
    * blobs BEFORE any decode budget is spent. Codegen expression; the
    * blob never shuffles.
    */
  def imageMeta(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.imageMeta(blob)

  /** REAL WAV/RIFF metadata: struct(format, channels, sample_rate,
    * bits_per_sample, n_frames) — duration = n_frames / sample_rate
    * without decoding a sample. NULL for non-WAV/truncated blobs.
    */
  /** WARC (ISO 28500) blob -> record rows: array of struct(warc_type,
    * target_uri, content_type, payload); gzip members inflated with a
    * zip-bomb guard; NULL for malformed/truncated archives (the
    * fail-closed triage contract). Explode, then [[httpParts]] the
    * response payloads and hand the bodies to the crawl front-end. */
  def warcRecords(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.warcRecords(blob)

  /** Avro object-container triage (r14): (schema_json, codec,
    * n_blocks, n_records) from frame arithmetic alone — records never
    * decoded. NULL on malformed framing. */
  def avroMeta(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.avroMeta(blob)

  /** TAR (ustar) member listing (r14): (name, typeflag, size) rows,
    * checksums verified; NULL on malformed framing. Compose with
    * [[gunzip]] for .tar.gz. */
  def tarEntries(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.tarEntries(blob)

  /** One TAR regular member's bytes by name (r14). */
  def tarExtract(blob: org.apache.spark.sql.Column,
                 name: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.tarExtract(blob, name)

  /** ZIP central-directory listing (r14): (name, method,
    * compressed_size, size) rows; NULL on malformed/zip64/encrypted
    * archives. */
  def zipEntries(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.zipEntries(blob)

  /** One ZIP entry's bytes by name, CRC32 + size verified (r14). */
  def zipExtract(blob: org.apache.spark.sql.Column,
                 name: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.zipExtract(blob, name)

  /** XLSX sheet1 cells as flat (row, col, value) rows —
    * sharedStrings-resolved, ref-addressed; NULL on malformed
    * archives (r15). */
  def xlsxCells(blob: org.apache.spark.sql.Column,
                sheet: Int = 1): org.apache.spark.sql.Column =
    Kernels.xlsxCells(blob, sheet)

  /** PDF triage: struct(version, n_pages, encrypted); NULL on
    * malformed/unsupported framing (r14). */
  def pdfMeta(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.pdfMeta(blob)

  /** PDF text extraction across the page tree; NULL for encrypted or
    * unsupported documents (r14). */
  def pdfText(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.pdfText(blob)

  /** Concatenated-member gzip inflate, member-exact + CRC/ISIZE
    * verified + zip-bomb-guarded; NULL on any corruption (r14). The
    * in-plan decompressor for `.xml.gz` sitemaps, `.jsonl.gz` shards,
    * and any gzip payload. */
  def gunzip(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.gunzip(blob)

  /** Zstandard decompression (r15, RFC 8878 pure-JVM decoder):
    * multi-frame, checksum-verified, dictionaries refused; NULL on any
    * corruption. */
  def zstdDecompress(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.zstdDecompress(blob)

  /** Dictionary-frame zstd decode (r17, RFC 8878 §5): `dict` is a
    * structured or raw-content dictionary blob; frames declaring a
    * Dictionary_ID are checked against its embedded ID. */
  def zstdDecompress(blob: org.apache.spark.sql.Column,
                     dict: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.zstdDecompressDict(blob, dict)

  /** Brotli decompression (r16, RFC 7932 pure-JVM decoder): full
    * format incl. static dictionary + transforms; NULL on any
    * corruption. */
  def brotliDecompress(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.brotliDecompress(blob)

  /** LZW `.Z` (Unix compress) decompression (r17): block + non-block
    * modes, maxbits 9..16; NULL on any corruption. */
  def lzwDecompress(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.lzwDecompress(blob)

  /** LZW `.Z` block-mode compression (r17) — in-plan encoder twin for
    * fixtures and roundtrip pipelines. */
  def lzwCompress(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.lzwCompress(blob)

  /** LZ4 frame decompression (r17): standard + legacy frames, linked
    * blocks, XXH32 verified; NULL on any corruption. */
  def lz4Decompress(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.lz4Decompress(blob)

  /** LZ4 store-mode frame (r17) — in-plan encoder twin for fixtures
    * and roundtrip pipelines. */
  def lz4CompressStore(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.lz4CompressStore(blob)

  /** OLE2/CFB directory listing (r16): array of struct(name,
    * entry_type, size); NULL on malformed input. */
  def cfbEntries(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.cfbEntries(blob)

  /** Legacy .doc text (r16): non-complex unencrypted WordDocument
    * stream; NULL otherwise. */
  def docText(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.docText(blob)

  /** The "text of whatever this blob is" ingest front door (r17):
    * magic-dispatched composition of the format extractors —
    *  - `%PDF-` → [[pdfText]];
    *  - ZIP → docx (`word/document.xml` through decode + HTML-strip),
    *    else [[pptxText]], else XLSX cell values newline-joined;
    *  - CFB → [[docText]], else [[pptText]], else `.xls` cell values;
    *  - `{\rtf` → [[rtfText]];
    *  - otherwise: a mail-shaped blob yields [[emlParts]]' text, and
    *    the fallback is charset-sniffed decode + HTML-strip (which
    *    whitespace-normalizes plain text — the corpus-text contract,
    *    not byte preservation).
    * NULL when nothing can vouch for the bytes. Entirely lazy: each
    * row runs ONE magic branch; the coalesce alternatives inside a
    * branch only run on the (rare) earlier-extractor NULLs.
    */
  def documentText(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import graft.functions.{TextFunctions => TF}
    import org.apache.spark.sql.functions._
    def cellsText(cells: org.apache.spark.sql.Column) =
      array_join(transform(cells, c => c.getField("value")), "\n")
    val docxXml = zipExtract(blob, lit("word/document.xml"))
    when(substring(blob, 1, 5) === encode(lit("%PDF-"), "UTF-8"),
      pdfText(blob))
      .when(substring(blob, 1, 2) === encode(lit("PK"), "UTF-8"),
        coalesce(
          TF.htmlExtract(TF.decodeText(docxXml).getField("text")),
          pptxText(blob),
          cellsText(xlsxCells(blob))))
      .when(substring(blob, 1, 8) === unhex(lit("d0cf11e0a1b11ae1")),
        coalesce(docText(blob), pptText(blob), cellsText(xlsCells(blob))))
      .when(substring(blob, 1, 5) === encode(lit("{\\rtf"), "UTF-8"),
        rtfText(blob))
      .otherwise(coalesce(
        emlParts(blob).getField("text"),
        TF.htmlExtract(TF.decodeText(blob).getField("text"))))
  }

  /** PPTX slide text (r17): a:t runs per slide part, paragraphs as
    * lines; NULL for damaged archives / non-presentations. */
  def pptxText(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.pptxText(blob)

  /** ID3 tags (r17): struct(title, artist, album, year) from
    * ID3v2/v1; NULL when no tag or damaged framing. */
  def id3Tags(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.id3Tags(blob)

  /** EML/MIME extraction (r17): struct(from, to, subject, date,
    * n_parts, text); NULL for non-mail/undecodable input. */
  def emlParts(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.emlParts(blob)

  /** EXIF metadata (r17): struct(orientation, datetime, make, model,
    * gps_lat, gps_lon); NULL when no EXIF block or damaged. */
  def exifMeta(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.exifMeta(blob)

  /** Web-font triage (r17): struct(format, family, n_glyphs,
    * n_tables); NULL on malformed framing. */
  def fontMeta(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.fontMeta(blob)

  /** mbox splitting (r17): per-message binaries, envelope lines
    * dropped, mboxrd unescaped; feeds [[emlParts]]. */
  def mboxMessages(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.mboxMessages(blob)

  /** RTF text (r17): destination-skipping control-word walk, cp1252 +
    * unicode escapes; NULL for non-RTF/damaged input. */
  def rtfText(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.rtfText(blob)

  /** 7z triage (r17): CRC-verified signature-header arithmetic —
    * struct(version, next_header_size, encoded, pack_bytes); NULL on
    * malformed framing. */
  def sevenZipMeta(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.sevenZipMeta(blob)

  /** RAR4/RAR5 triage (r17): CRC-verified block walk — struct(version,
    * n_blocks, n_files, encrypted); NULL on malformed framing. */
  def rarMeta(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.rarMeta(blob)

  /** Embedded PDF image XObjects (r17): struct(obj, format, width,
    * height, data) rows — jpeg verbatim, rasters as P6/P5 for the
    * dhash tier; NULL blob-wide on malformed documents. */
  def pdfImages(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.pdfImages(blob)

  /** Legacy .ppt slide text (r17): TextCharsAtom/TextBytesAtom walk
    * of the PowerPoint Document stream, newline-joined; NULL for
    * encrypted or malformed decks. */
  def pptText(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.pptText(blob)

  /** Legacy .xls BIFF8 worksheet cells (r17): flat (row, col, value),
    * the XLSX contract over the CFB Workbook stream; NULL on damaged/
    * encrypted/BIFF5 input or an absent sheet. */
  def xlsCells(blob: org.apache.spark.sql.Column, sheet: Int = 1): org.apache.spark.sql.Column =
    Kernels.xlsCells(blob, sheet)

  /** Parquet blob triage (r16): footer-only struct(version, num_rows,
    * n_row_groups, n_schema_elements); NULL on malformed framing. */
  def parquetMeta(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.parquetMeta(blob)

  /** HTTP payload -> struct(status, content_type, body); NULL when the
    * payload is not an HTTP message. */
  def httpParts(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.httpParts(payload)

  def audioMeta(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.audioMeta(blob)

  /** REAL ISO-BMFF (MP4/MOV) metadata: struct(format = major brand,
    * timescale, duration, n_tracks) — seconds = duration / timescale,
    * codec untouched. NULL for non-BMFF/corrupt blobs.
    */
  def videoMeta(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.videoMeta(blob)

  /** REAL per-track ISO-BMFF stats: array of struct(handler, timescale,
    * duration, n_samples, total_bytes) — per-track seconds and average
    * bitrate without any codec (mdhd + hdlr + stsz walk). NULL for
    * non-BMFF/corrupt blobs; NULL fields for tracks missing the boxes.
    */
  def videoTrackStats(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.videoTrackStats(blob)

  /** REAL video PIXEL path for the MJPEG codec class: array of
    * per-sample byte slices cut by the stsd/stsz/stsc/stco walk — each
    * an independent baseline JPEG, so explode + the existing
    * [[raster]] decoder yields decoded FRAMES with no new codec code.
    * NULL for non-BMFF blobs, compressed-codec tracks (avc1, …), or
    * structurally inconsistent sample tables (honest refusal, same
    * contract as the JPEG decoder's progressive-scan NULL).
    */
  def mjpegFrames(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.mjpegFrames(blob)

  /** REAL animated-GIF per-frame stats: array of struct(x, y, width,
    * height, delay_cs, disposal, transparent_px, mean_r, mean_g,
    * mean_b) — every frame decoded against its own palette with the
    * Graphic Control Extension state attached. NULL blob-wide on any
    * structural failure (the [[mjpegFrames]] contract: a partial frame
    * list would read as a shorter animation). Codegen expression over
    * the blob in place — frames never shuffle.
    */
  def gifFrames(blob: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    Kernels.gifFrames(blob)

  /** Decoder contract: one BATCH of blobs in, one feature vector per
    * blob out — the shape a vectorized codec / GPU embedder actually
    * wants (amortized model invocation per batch, not per row). The
    * stub derives deterministic pseudo-features so tests and plumbing
    * are exercisable without codecs.
    */
  type Decoder = (Seq[Array[Byte]], Int) => Seq[Array[Float]]

  /** STUB batch decoder (stands in for CODEC-BOUND decode + embed —
    * now only COMPRESSED-codec video pixel data (H.264/avc1 etc.;
    * MJPEG tracks decode for real). Stills decode for real within
    * declared scope — baseline AND progressive JPEG (round 11), PNG at
    * EVERY legal (type, depth) pair incl. sub-byte and Adam7 (round
    * 11), GIF with the full animation walk via [[gifFrames]] (round
    * 11; [[raster]] keeps the frame-1 summary), BMP/PPM/PGM —
    * everything outside the per-kernel scope notes fails CLOSED to
    * NULL features. PCM/G.711 audio has the real [[pcm]] path. */
  val stub: Decoder = (blobs: Seq[Array[Byte]], dim: Int) =>
    blobs.map(stubOne(_, dim))

  private def rasterFeatures(r: graft.functions.RasterKernels.Raster,
                             dim: Int): Array[Float] =
    Array(r.width.toFloat, r.height.toFloat, r.meanR.toFloat,
      r.meanG.toFloat, r.meanB.toFloat).padTo(dim, 0f).take(dim)

  /** REAL raster decoder (BMP 24-bit BI_RGB, binary PPM): features =
    * [width, height, meanR, meanG, meanB] from actual pixel iteration,
    * padded/truncated to `dim`. Undecodable or truncated blobs yield an
    * EMPTY feature vector — the strict contract a hash-gated pipeline
    * wants (`get(feature, i)` reads NULL, never a pseudo-feature).
    */
  val raster: Decoder = (blobs: Seq[Array[Byte]], dim: Int) =>
    blobs.map { b =>
      graft.functions.RasterKernels.decode(b) match {
        case Some(r) => rasterFeatures(r, dim)
        case None => Array.empty[Float]
      }
    }

  private def pcmFeatures(p: graft.functions.AudioKernels.Pcm,
                          dim: Int): Array[Float] =
    Array(p.channels.toFloat, p.sampleRate.toFloat, p.nFrames.toFloat,
      p.meanAbs.toFloat, p.peak.toFloat).padTo(dim, 0f).take(dim)

  /** REAL integer-PCM WAV decoder: features = [channels, sample_rate,
    * n_frames, mean_abs, peak] from actual sample iteration (amplitudes
    * normalized to [-1, 1]). Same strict contract as [[raster]]:
    * undecodable, compressed, or truncated blobs yield an EMPTY vector.
    */
  val pcm: Decoder = (blobs: Seq[Array[Byte]], dim: Int) =>
    blobs.map { b =>
      graft.functions.AudioKernels.decode(b) match {
        case Some(p) => pcmFeatures(p, dim)
        case None => Array.empty[Float]
      }
    }

  private def stubOne(bytes: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var h = 1125899906842597L // deterministic FNV-ish rolling hash
    var i = 0
    while (i < bytes.length) { h = h * 31 + (bytes(i) & 0xff); i += 1 }
    var d = 0
    while (d < dim) {
      // murmur3 finalizer so low-bit payload differences avalanche
      var x = h ^ (0x9e3779b97f4a7c15L * (d + 1))
      x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
      x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
      x ^= x >>> 33
      // top 52 bits -> [0, 1) -> [-1, 1)
      out(d) = ((x >>> 12).toDouble / (1L << 52).toDouble * 2.0 - 1.0).toFloat
      d += 1
    }
    out
  }

  /** Feature extraction over a binary column as ONE codegen projection:
    * the decoder rides the `decode_features`
    * expression as a plan reference, so decode stays inside whole-stage
    * codegen with no RDD round-trip (through round 12 this was a
    * `df.rdd.mapPartitions` barrier that deserialized every blob out of
    * Tungsten and re-encoded it through an ExistingRDD — forfeiting
    * codegen, columnar transfer, and AQE across the hottest multimodal
    * boundary). Rows with null ids pass through with a null `media_id`,
    * null blobs decode as empty payloads (n_bytes = 0) — both contracts
    * unchanged.
    *
    * The engine invokes the decoder with singleton batches (decode
    * dominates any batching overhead; amortized codec/model state
    * belongs in the decoder object, instantiated once per plan
    * reference, not per row).
    */
  def featurize(df: DataFrame, idCol: String, blobCol: String,
                dim: Int = 8, decoder: Decoder = stub): DataFrame = {
    val safeBlob = coalesce(col(blobCol), lit(Array.emptyByteArray))
    df.select(
      col(idCol).cast("bigint").as("media_id"),
      length(safeBlob).cast("bigint").as("n_bytes"),
      Kernels.decodeFeatures(safeBlob, dim, decoder).as("feature"))
  }
}
