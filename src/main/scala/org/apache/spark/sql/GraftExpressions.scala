package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, BinaryType, BooleanType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions backing graft's custom functions. They live
  * in this package because `AbstractDataType` (the `ExpectsInputTypes`
  * contract) is `private[sql]` in Spark 4; the algorithm bodies stay in
  * `graft.functions` as public static methods the generated Java calls.
  * Codegen'd — these stay inside whole-stage codegen, unlike a Scala UDF
  * which forces a serialization boundary per row.
  */
case class JaroWinklerSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.functions.JaroWinkler.similarity(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.JaroWinkler.similarity($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinklerSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Length band with integer boundaries for the thresholded fuzzy join's
  * ratio filter (round 12) — see JaroWinkler.lengthBand for the
  * soundness argument. */
case class FuzzyLengthBand(child: Expression, r: Double)
    extends UnaryExpression with ExpectsInputTypes {
  require(r > 0.0 && r < 1.0, s"ratio bound must be in (0, 1), got $r")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "fuzzy_length_band"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.JaroWinkler.lengthBandOf(v.asInstanceOf[UTF8String], r)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.JaroWinkler.lengthBandOf($c, $r)")

  override protected def withNewChildInternal(newChild: Expression): FuzzyLengthBand =
    copy(child = newChild)
}

/** Occurrence-tagged sorted-prefix signature for the thresholded fuzzy
  * join (round 12) — two strings whose char-bag overlap can reach the
  * JW >= tau bound must share a signature entry (PPJoin prefix lemma);
  * see JaroWinkler.signature. */
case class FuzzySignature(child: Expression, frac: Double)
    extends UnaryExpression with ExpectsInputTypes {
  require(frac > 0.0 && frac <= 1.0, s"overlap fraction must be in (0, 1], got $frac")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "fuzzy_signature"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.JaroWinkler.signatureData(v.asInstanceOf[UTF8String], frac)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.JaroWinkler.signatureData($c, $frac)")

  override protected def withNewChildInternal(newChild: Expression): FuzzySignature =
    copy(child = newChild)
}

/** Distinct 64-bit hashes of the character n-gram shingles of a string.
  * One O(bytes) pass computing byte-window hashes at char boundaries —
  * versus the naive `transform(sequence(...), i => xxhash64(substr(t,i,n)))`
  * formulation, whose per-position `substr` re-seeks from the string start
  * (O(len²) per document) and whose higher-order transform runs
  * interpreted per element.
  */
case class ShingleHashes64(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes64"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.MinHashKernels.shingleHashes(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MinHashKernels.shingleHashes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes64 =
    copy(child = newChild)
}

/** Exact Jaccard similarity of two sorted-distinct long arrays (shingle
  * hash sets) via a single linear merge. When both input types declare
  * `containsNull = false` the per-row NULL-element check is skipped.
  */
case class SortedLongJaccard(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sorted_jaccard"

  @transient private lazy val dense: Boolean = Seq(left, right).forall(_.dataType match {
    case ArrayType(_, containsNull) => !containsNull
    case _ => false
  })

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (dense) graft.functions.MinHashKernels.denseJaccard(x, y)
    else graft.functions.MinHashKernels.sortedJaccard(x, y)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (dense) "denseJaccard" else "sortedJaccard"
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.MinHashKernels.$fn($a, $b)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedLongJaccard =
    copy(left = newLeft, right = newRight)
}

/** K-member MinHash signature over an array of 64-bit shingle hashes:
  * member k = min over elements of xxh64(element, seed = k). Tight
  * two-level loop, no boxing, no per-member array pass.
  */
case class MinHashes(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1 && k <= 4096, s"signature size must be in [1, 4096], got $k")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhashes"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.MinHashKernels.minHashes(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.MinHashKernels.minHashes($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): MinHashes =
    copy(child = newChild)
}

case class SimHash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.SimHash.simhash64(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash.simhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** One-pass lowercase + whitespace-tokenize + SimHash sketch of text. */
case class SimHashText(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_text"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.SimHash.simhashText64(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash.simhashText64($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHashText =
    copy(child = newChild)
}

/** Single-pass per-document text statistics (see
  * [[graft.functions.TextKernels]] for the exact counting semantics).
  */
case class TextStats(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = TextStats.schema
  override def prettyName: String = "text_stats"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.TextKernels.stats(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.stats($c)")

  override protected def withNewChildInternal(newChild: Expression): TextStats =
    copy(child = newChild)
}

object ImageMeta {
  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false)))
}

/** Container-header image metadata — (format, width, height) parsed
  * from the blob's fixed header fields, NULL for unrecognized or
  * truncated blobs. See [[graft.functions.MediaKernels.imageMeta]].
  */
case class ImageMeta(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ImageMeta.schema
  override def nullable: Boolean = true
  override def prettyName: String = "image_meta"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.MediaKernels.imageMeta(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the kernel can return null for a NON-null input (unknown magic),
    // so defineCodeGen (which assumes non-null results) doesn't apply
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.MediaKernels.imageMeta($c);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): ImageMeta =
    copy(child = newChild)
}

object AudioMeta {
  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("bits_per_sample", IntegerType, nullable = false),
    StructField("n_frames", LongType, nullable = false)))
}

/** WAV/RIFF + FLAC audio metadata (codec-free triage tier) — NULL for
  * unrecognized or truncated blobs. See
  * [[graft.functions.MediaKernels.audioMeta]].
  */
case class AudioMeta(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = AudioMeta.schema
  override def nullable: Boolean = true
  override def prettyName: String = "audio_meta"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.MediaKernels.audioMeta(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.MediaKernels.audioMeta($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): AudioMeta =
    copy(child = newChild)
}

object VideoMeta {
  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("timescale", LongType, nullable = false),
    StructField("duration", LongType, nullable = false),
    StructField("n_tracks", IntegerType, nullable = false)))
}

/** ISO-BMFF (MP4/MOV) container metadata — NULL for non-BMFF or corrupt
  * blobs. See [[graft.functions.MediaKernels.videoMeta]].
  */
case class VideoMeta(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = VideoMeta.schema
  override def nullable: Boolean = true
  override def prettyName: String = "video_meta"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.MediaKernels.videoMeta(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.MediaKernels.videoMeta($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): VideoMeta =
    copy(child = newChild)
}

object VideoTrackStats {
  val elementSchema: StructType = StructType(Seq(
    StructField("handler", StringType, nullable = true),
    StructField("timescale", LongType, nullable = true),
    StructField("duration", LongType, nullable = true),
    StructField("n_samples", LongType, nullable = true),
    StructField("total_bytes", LongType, nullable = true)))
}

/** Per-track ISO-BMFF container stats (keyframe-free video features) —
  * NULL for non-BMFF blobs, one row per trak otherwise. See
  * [[graft.functions.MediaKernels.videoTrackStats]].
  */
case class VideoTrackStats(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType =
    ArrayType(VideoTrackStats.elementSchema, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "video_track_stats"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.MediaKernels.videoTrackStats(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.MediaKernels.videoTrackStats($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): VideoTrackStats =
    copy(child = newChild)
}

/** MJPEG frame extraction: the ISO-BMFF sample tables (stsd gate, stsz,
  * stsc, stco/co64) sliced into per-sample byte arrays — each one an
  * independent baseline JPEG for the existing decode path. See
  * [[graft.functions.MediaKernels.mjpegFrames]] for the scope contract
  * (jpeg/mjpa tracks only; structural inconsistency ⇒ NULL blob-wide).
  */
case class MjpegFrames(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "mjpeg_frames"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.MediaKernels.mjpegFrames(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.MediaKernels.mjpegFrames($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): MjpegFrames =
    copy(child = newChild)
}

object GifFrames {
  val elementSchema: StructType = StructType(Seq(
    StructField("x", LongType, nullable = false),
    StructField("y", LongType, nullable = false),
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("delay_cs", LongType, nullable = false),
    StructField("disposal", LongType, nullable = false),
    StructField("transparent_px", LongType, nullable = false),
    StructField("mean_r", DoubleType, nullable = false),
    StructField("mean_g", DoubleType, nullable = false),
    StructField("mean_b", DoubleType, nullable = false)))
}

/** Animated-GIF per-frame stats: geometry, Graphic Control Extension
  * delay/disposal/transparency, palette-resolved channel means — one
  * struct per frame, NULL blob-wide on any structural failure. See
  * [[graft.functions.GifKernels.frames]] for the scope contract.
  */
case class GifFrames(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType =
    ArrayType(GifFrames.elementSchema, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "gif_frames"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.GifKernels.frameStats(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.GifKernels.frameStats($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): GifFrames =
    copy(child = newChild)
}

/** Per-blob media feature decode (round 13): the decoder function —
  * [[graft.operators.Multimodal.raster]], [[graft.operators.Multimodal.pcm]],
  * the stub, or a user codec — rides along as an expression reference and
  * runs INSIDE whole-stage codegen, replacing the `df.rdd.mapPartitions`
  * barrier the featurize spine used through round 12 (every blob was
  * deserialized from Tungsten into a GenericRow, copied, and re-encoded
  * through an ExistingRDD that forfeited codegen and AQE). The decoder
  * keeps its batch-shaped signature (a real vectorized codec's API); the
  * engine invokes it with singleton batches — per-blob decode dominates
  * any batching overhead, and amortized state (codec tables, a model)
  * belongs in the decoder object itself, which is instantiated once per
  * plan reference, not per row.
  *
  * Equality is reference equality on the decoder (case-class default):
  * two plans sharing the same decoder `val` canonicalize together; a
  * structurally-identical lambda does not — the cost is a missed CSE,
  * never wrong results.
  */
case class DecodeFeatures(child: Expression, dim: Int,
                          decoder: (Seq[Array[Byte]], Int) => Seq[Array[Float]])
    extends UnaryExpression with ExpectsInputTypes {
  require(dim >= 1, s"feature dim must be >= 1, got $dim")

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "decode_features"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.MediaKernels.decodeFeatures(
      decoder, v.asInstanceOf[Array[Byte]], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftDecoder", decoder, "scala.Function2")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MediaKernels.decodeFeatures($ref, $c, $dim)")
  }

  override protected def withNewChildInternal(newChild: Expression): DecodeFeatures =
    copy(child = newChild)
}

object FrameChunks {
  val elementSchema: StructType = StructType(Seq(
    StructField("frame_no", IntegerType, nullable = false),
    StructField("frame", BinaryType, nullable = false)))
}

/** Strided fixed-size frame chunks of a blob (round 13): array of
  * (frame_no, frame) structs cut in place by a codegen kernel, exploded
  * Spark-side — the Dataset-native replacement for sampleFrames'
  * `df.rdd.flatMap` barrier. NULL blob → NULL array (explode drops the
  * row, the old Iterator.empty contract).
  */
case class FrameChunks(child: Expression, frameBytes: Int, stride: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(frameBytes >= 1, s"frameBytes must be >= 1, got $frameBytes")
  require(stride >= 1, s"stride must be >= 1, got $stride")

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType =
    ArrayType(FrameChunks.elementSchema, containsNull = false)
  override def prettyName: String = "frame_chunks"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.MediaKernels.frameChunks(
      v.asInstanceOf[Array[Byte]], frameBytes, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MediaKernels.frameChunks($c, $frameBytes, $stride)")

  override protected def withNewChildInternal(newChild: Expression): FrameChunks =
    copy(child = newChild)
}

object RepetitionCounts {
  val schema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("top_count", LongType, nullable = false)))
}

/** One-pass repetition counts (token total, distinct tokens, most
  * repeated token's count) — see
  * [[graft.functions.TextKernels.repetitionCounts]]. Ratio composition
  * stays in column space so the oracle arithmetic is unchanged.
  */
case class RepetitionCounts(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = RepetitionCounts.schema
  override def prettyName: String = "repetition_counts"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.TextKernels.repetitionCounts(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.repetitionCounts($c)")

  override protected def withNewChildInternal(newChild: Expression): RepetitionCounts =
    copy(child = newChild)
}

/** Distinct word n-grams (space-joined, first-occurrence order) as a
  * single-pass codegen kernel — the corpus-scan primitive behind
  * decontamination and n-gram statistics. NULL text → NULL; fewer than
  * `n` tokens → empty array. Tokenization is the family-standard
  * `split(trim(text), "\\s+")` with boundary empties kept.
  */
case class WordNgrams(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"n must be >= 1, got $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.TextKernels.wordNgrams(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.wordNgrams($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
}

/** ALL word n-grams in document order, duplicates kept — the counting
  * variant of [[WordNgrams]] for language-model frequency estimation.
  * Same tokenization and empty/short-text contract.
  */
case class WordNgramsAll(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"n must be >= 1, got $n")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams_all"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.TextKernels.allWordNgrams(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.allWordNgrams($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): WordNgramsAll =
    copy(child = newChild)
}

/** Token-window chunking (sliding windows of `maxTokens` whitespace
  * tokens advancing by `maxTokens - overlap`, re-joined with single
  * spaces; empty trimmed text -> zero chunks). See
  * [[graft.functions.TextKernels.chunkTokens]] for the exact
  * tokenization contract.
  */
case class ChunkText(child: Expression, maxTokens: Int, overlap: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(maxTokens >= 1, s"maxTokens must be >= 1, got $maxTokens")
  require(overlap >= 0 && overlap < maxTokens,
    s"overlap must be in [0, maxTokens), got $overlap")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "chunk_text"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.TextKernels.chunkTokens(v.asInstanceOf[UTF8String], maxTokens, overlap)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.chunkTokens($c, $maxTokens, $overlap)")

  override protected def withNewChildInternal(newChild: Expression): ChunkText =
    copy(child = newChild)
}

/** Point estimate from a `count_min_sketch` aggregate's binary payload
  * for a string item — the probe half of the CMS heavy-hitter
  * calibration ([[graft.functions.SketchKernels.cmsEstimate]] caches
  * the deserialized sketch per thread, so probing k candidates costs k
  * hashes + one deserialization).
  */
case class CmsEstimate(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "cms_estimate"

  override protected def nullSafeEval(sk: Any, item: Any): Any =
    graft.functions.SketchKernels.cmsEstimate(
      sk.asInstanceOf[Array[Byte]], item.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (s, i) => s"graft.functions.SketchKernels.cmsEstimate($s, $i)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmsEstimate =
    copy(left = newLeft, right = newRight)
}

/** Single-pass multi-pattern containment over a fixed term list: the
  * distinct patterns occurring anywhere in the text, in declaration
  * order. The [[graft.functions.AhoCorasick]] DFA is built once at
  * plan-construction time (driver side) and referenced from generated
  * code — per-row cost is one table lookup per byte regardless of how
  * many patterns the list holds, where a `contains` conjunction or a
  * giant regex alternation re-scans or backtracks.
  */
case class MultiMatch(child: Expression, patterns: Seq[String])
    extends UnaryExpression with ExpectsInputTypes {
  // fail fast on bad pattern lists at construction — but with the CHEAP
  // checks only, never by forcing `ac`: Catalyst copies this node on
  // every tree transform, and an eager DFA build (O(patternBytes*256))
  // would re-run per copy. The automaton builds lazily, once per plan
  // reference (driver side for codegen via addReferenceObj below).
  require(patterns.nonEmpty, "multi_match needs at least one pattern")
  require(patterns.forall(p => p != null && p.nonEmpty),
    "multi_match patterns must be non-null and non-empty")
  require(patterns.distinct.length == patterns.length,
    "multi_match patterns must be distinct")
  @transient private lazy val ac =
    new graft.functions.AhoCorasick(patterns.toArray)

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "multi_match"

  override protected def nullSafeEval(v: Any): Any =
    ac.matchedTerms(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftAhoCorasick", ac,
      classOf[graft.functions.AhoCorasick].getName)
    defineCodeGen(ctx, ev, c => s"$ref.matchedTerms($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): MultiMatch =
    copy(child = newChild)
}

object TextStats {
  val schema: StructType = StructType(Seq(
    StructField("n_chars", LongType, nullable = false),
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_subtokens", LongType, nullable = false),
    StructField("n_punct", LongType, nullable = false),
    StructField("hits_en", LongType, nullable = false),
    StructField("hits_fr", LongType, nullable = false),
    StructField("hits_es", LongType, nullable = false),
    StructField("hits_de", LongType, nullable = false)))
}

/** 2-D Z-order (Morton) key — the data-layout primitive behind
  * multi-dimensional file skipping: rows sorted by this key cluster
  * close (x, y) pairs into the same parquet files, so min/max footer
  * stats prune point/range queries on EITHER column. Signed-order
  * preserving (see [[graft.functions.LayoutKernels.morton2]]).
  */
case class ZOrder2(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(IntegerType, IntegerType)
  override def dataType: DataType = LongType
  override def prettyName: String = "zorder2"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.functions.LayoutKernels.morton2(
      a.asInstanceOf[Int], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.LayoutKernels.morton2($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrder2 =
    copy(left = newLeft, right = newRight)
}

/** N-dimensional Morton key over an array of bucket coordinates — the
  * multi-column `ZORDER BY` primitive (each dim gets 64/k interleaved
  * bits; inputs saturate to their bucket range — see
  * [[graft.functions.LayoutKernels.mortonN]]). `k` is fixed at plan
  * time by the column builder, so every row interleaves identically.
  */
case class ZOrderN(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 2 && k <= 32, s"k must be in [2, 32], got $k")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(IntegerType))
  override def dataType: DataType = LongType
  override def prettyName: String = "zorder_n"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.LayoutKernels.mortonN(v.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.LayoutKernels.mortonN($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): ZOrderN =
    copy(child = newChild)
}

/** 2-D Hilbert curve key of two bucket coordinates — see
  * [[graft.functions.LayoutKernels.hilbert2]] for the locality
  * contract. `bits` is fixed at plan time by the column builder.
  */
case class Hilbert2(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression with ExpectsInputTypes {
  require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")

  override def inputTypes: Seq[AbstractDataType] = Seq(IntegerType, IntegerType)
  override def dataType: DataType = LongType
  override def prettyName: String = "hilbert2"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.functions.LayoutKernels.hilbert2(
      a.asInstanceOf[Int], b.asInstanceOf[Int], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.LayoutKernels.hilbert2($a, $b, $bits)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Hilbert2 =
    copy(left = newLeft, right = newRight)
}

/** Inverse Hilbert decode: curve position -> array(x, y) bucket cell
  * (see [[graft.functions.LayoutKernels.unhilbert2]]).
  */
case class HilbertDecode2(child: Expression, bits: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "unhilbert2"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.LayoutKernels.unhilbert2Array(v.asInstanceOf[Long], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.LayoutKernels.unhilbert2Array($c, $bits)")

  override protected def withNewChildInternal(newChild: Expression): HilbertDecode2 =
    copy(child = newChild)
}

/** Initial BPE symbol string of a word: code points joined in the
  * doubled-separator form `\n\n s1 \n\n s2 \n\n` the trainer's
  * replace-based merge pass operates on (see [[graft.operators.Bpe]]).
  */
case class BpeInitRepr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "bpe_init_repr"

  override protected def nullSafeEval(v: Any): Any = {
    val syms = graft.functions.BpeKernels.codepointSymbols(
      v.asInstanceOf[UTF8String].toString)
    UTF8String.fromString(syms.mkString("\n\n", "\n\n", "\n\n"))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"""scala.Predef.wrapRefArray(graft.functions.BpeKernels.codepointSymbols($c.toString())).mkString("\\n\\n", "\\n\\n", "\\n\\n"))""")

  override protected def withNewChildInternal(newChild: Expression): BpeInitRepr =
    copy(child = newChild)
}

/** Corpus-scale BPE encode: tokenize + apply the ranked merges, one
  * codegen pass per document ([[graft.functions.BpeKernels.tokens]]).
  * The merge arrays are driver-built and ride to executors as
  * expression references.
  */
case class BpeTokens(child: Expression, mergesA: Seq[String], mergesB: Seq[String])
    extends UnaryExpression with ExpectsInputTypes {
  require(mergesA.length == mergesB.length,
    s"merge sides differ: ${mergesA.length} vs ${mergesB.length}")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_tokens"

  @transient private lazy val arrA = mergesA.toArray
  @transient private lazy val arrB = mergesB.toArray

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.BpeKernels.tokens(v.asInstanceOf[UTF8String], arrA, arrB)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ra = ctx.addReferenceObj("bpeMergesA", arrA, "java.lang.String[]")
    val rb = ctx.addReferenceObj("bpeMergesB", arrB, "java.lang.String[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.BpeKernels.tokens($c, $ra, $rb)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeTokens =
    copy(child = newChild)
}

case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vector_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.functions.VectorKernels.dot(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.dot($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)
}

/** Σ vals(idx(i)) for long arrays — see
  * [[graft.functions.VectorKernels.sumIndexed]]. */
case class SumIndexedLongs(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "sum_indexed"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.functions.VectorKernels.sumIndexed(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.sumIndexed($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SumIndexedLongs =
    copy(left = newLeft, right = newRight)
}

/** Exact dot product of quantized long vectors — see
  * [[graft.functions.VectorKernels.dotLongs]]. */
case class DotLongs(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "dot_longs"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.functions.VectorKernels.dotLongs(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.dotLongs($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotLongs =
    copy(left = newLeft, right = newRight)
}

/** Deterministic centroid assignment — see
  * [[graft.functions.VectorKernels.argminSqDist]]. */
case class ArgminSqDist(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(ArrayType(LongType)))
  override def dataType: DataType = LongType
  override def prettyName: String = "argmin_sq_dist"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.functions.VectorKernels.argminSqDist(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.argminSqDist($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArgminSqDist =
    copy(left = newLeft, right = newRight)
}

case class VectorCosine(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vector_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    graft.functions.VectorKernels.cosine(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.cosine($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorCosine =
    copy(left = newLeft, right = newRight)
}

case class VectorL2Normalize(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "vector_l2_normalize"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.VectorKernels.l2Normalize(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.l2Normalize($c)")

  override protected def withNewChildInternal(newChild: Expression): VectorL2Normalize =
    copy(child = newChild)
}

/** Bounded collect: the `limit` SMALLEST non-null child values per group
  * (by the type's natural ordering), emitted as a sorted-ascending array —
  * exactly `slice(array_sort(collect_list(x)), 1, limit)` (or of
  * `collect_set` with `distinct = true`), but with the bound enforced
  * INSIDE the aggregation buffer. `collect_list` holds every member of a
  * group in memory before any cap can apply, so one pathologically hot
  * group (mass-duplicated content in an LSH bucket) can OOM an executor;
  * this buffer never exceeds `limit` elements, in the partial (map-side)
  * aggregation as well as the final one.
  *
  * The buffer is a size-capped max-heap: the largest kept value is O(1)
  * to inspect, so each update is O(log limit) and merge is
  * O(m log limit). `distinct` makes duplicate values occupy one slot —
  * the mode the multi-table LSH top-k needs, where the same candidate
  * can arrive once per hash table. The dedup check is a LINEAR scan of
  * the kept buffer (O(limit) per insert), so use distinct only with
  * top-k-sized limits, not the 4096-member bucket caps.
  */
case class CollectSmallest(
    child: Expression,
    limit: Int,
    distinct: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[scala.collection.mutable.PriorityQueue[Any]]
    with UnaryLike[Expression] {
  require(limit >= 1, s"limit must be >= 1, got $limit")

  // max-heap ordering over the child's type (struct members compare
  // field-by-field — the same ordering array_sort uses)
  private lazy val ord: Ordering[Any] = TypeUtils.getInterpretedOrdering(child.dataType)

  // unorderable child types (maps) must fail analysis with a clear
  // message, not die mid-task in the lazily-built ordering — this
  // aggregate is SQL-reachable via the registered collect_smallest
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TypeUtils.checkForOrderingExpr(child.dataType, prettyName)

  override def createAggregationBuffer(): scala.collection.mutable.PriorityQueue[Any] =
    scala.collection.mutable.PriorityQueue.empty[Any](ord)

  // distinct mode: a value already kept occupies no new slot. The linear
  // membership scan is O(limit) per insert — use distinct only with
  // small limits (top-k), not the 4096-member bucket caps. Correctness
  // of the bound: a duplicate of an EVICTED value is necessarily larger
  // than everything kept, so the full-buffer rejection path already
  // handles it.
  private def offer(buf: scala.collection.mutable.PriorityQueue[Any], v: Any): Unit =
    if (distinct && buf.exists(ord.equiv(_, v))) ()
    else if (buf.size < limit) buf += v
    else if (ord.lt(v, buf.head)) { buf.dequeue(); buf += v }

  override def update(buf: scala.collection.mutable.PriorityQueue[Any],
                      input: InternalRow): scala.collection.mutable.PriorityQueue[Any] = {
    val v = child.eval(input)
    // values are buffered across rows — copy out of the reused input row
    if (v != null) offer(buf, InternalRow.copyValue(v))
    buf
  }

  override def merge(buf: scala.collection.mutable.PriorityQueue[Any],
                     other: scala.collection.mutable.PriorityQueue[Any])
      : scala.collection.mutable.PriorityQueue[Any] = {
    other.foreach(offer(buf, _))
    buf
  }

  override def eval(buf: scala.collection.mutable.PriorityQueue[Any]): Any =
    new GenericArrayData(buf.toArray.sorted(ord))

  private lazy val serProjection = UnsafeProjection.create(
    Array[DataType](ArrayType(child.dataType, containsNull = false)))

  override def serialize(buf: scala.collection.mutable.PriorityQueue[Any]): Array[Byte] =
    serProjection(InternalRow(new GenericArrayData(buf.toArray))).getBytes

  override def deserialize(bytes: Array[Byte]): scala.collection.mutable.PriorityQueue[Any] = {
    val buf = createAggregationBuffer()
    val row = new UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    row.getArray(0).foreach(child.dataType, (_, v) => offer(buf, InternalRow.copyValue(v)))
    buf
  }

  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "collect_smallest"

  override def withNewMutableAggBufferOffset(newOffset: Int): CollectSmallest =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CollectSmallest =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CollectSmallest =
    copy(child = newChild)
}

/** Top-n nearest centroids by dot product (descending, ties to the
  * smaller 1-based centroid id) — the IVF assignment/probing kernel.
  * The centroid matrix rides along as a codegen reference object, so the
  * per-row work is one tight primitive loop inside whole-stage codegen
  * instead of an interpreted `transform` over an array-of-structs
  * literal.
  */
case class TopCentroids(child: Expression, centroids: Array[Array[Double]], n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"n must be >= 1, got $n")
  require(centroids.nonEmpty, "centroids must be non-empty")

  // the case-class equals/hashCode on Array fields would be reference
  // identity, making two semantically identical kernels never compare
  // equal — defeating Catalyst canonicalization / semanticEquals /
  // common-subexpression elimination. Compare the matrix by value.
  override def equals(other: Any): Boolean = other match {
    case t: TopCentroids =>
      child == t.child && n == t.n &&
        java.util.Arrays.deepEquals(
          centroids.asInstanceOf[Array[AnyRef]], t.centroids.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Int.box(n),
      Int.box(java.util.Arrays.deepHashCode(centroids.asInstanceOf[Array[AnyRef]])))

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "top_centroids"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.VectorKernels.topCentroids(v.asInstanceOf[ArrayData], centroids, n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids, "double[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorKernels.topCentroids($c, $ref, $n)")
  }

  override protected def withNewChildInternal(newChild: Expression): TopCentroids =
    copy(child = newChild)
}

/** vec − centroids(cid−1): the IVF residual the product quantizer
  * codes (round 12). Centroid matrix rides as a codegen reference like
  * [[TopCentroids]]; array-field equality is by value for
  * canonicalization. */
case class CentroidResidual(left: Expression, right: Expression,
                            centroids: Array[Array[Double]])
    extends BinaryExpression with ExpectsInputTypes {
  require(centroids.nonEmpty, "centroids must be non-empty")

  override def equals(other: Any): Boolean = other match {
    case t: CentroidResidual =>
      left == t.left && right == t.right &&
        java.util.Arrays.deepEquals(
          centroids.asInstanceOf[Array[AnyRef]], t.centroids.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int = java.util.Objects.hash(left, right,
    Int.box(java.util.Arrays.deepHashCode(centroids.asInstanceOf[Array[AnyRef]])))

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType), LongType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "centroid_residual"

  override protected def nullSafeEval(v: Any, cid: Any): Any =
    graft.functions.VectorKernels.centroidResidual(
      v.asInstanceOf[ArrayData], cid.asInstanceOf[Long], centroids)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids, "double[][]")
    defineCodeGen(ctx, ev,
      (v, cid) => s"graft.functions.VectorKernels.centroidResidual($v, $cid, $ref)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CentroidResidual =
    copy(left = newLeft, right = newRight)
}

/** dot(vec, centroids(cid−1)) — the q·c_list term of the IVF-PQ
  * asymmetric score (round 12). */
case class CentroidDot(left: Expression, right: Expression,
                       centroids: Array[Array[Double]])
    extends BinaryExpression with ExpectsInputTypes {
  require(centroids.nonEmpty, "centroids must be non-empty")

  override def equals(other: Any): Boolean = other match {
    case t: CentroidDot =>
      left == t.left && right == t.right &&
        java.util.Arrays.deepEquals(
          centroids.asInstanceOf[Array[AnyRef]], t.centroids.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int = java.util.Objects.hash(left, right,
    Int.box(java.util.Arrays.deepHashCode(centroids.asInstanceOf[Array[AnyRef]])))

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType), LongType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "centroid_dot"

  override protected def nullSafeEval(v: Any, cid: Any): Any =
    graft.functions.VectorKernels.centroidDot(
      v.asInstanceOf[ArrayData], cid.asInstanceOf[Long], centroids)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids, "double[][]")
    defineCodeGen(ctx, ev,
      (v, cid) => s"graft.functions.VectorKernels.centroidDot($v, $cid, $ref)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CentroidDot =
    copy(left = newLeft, right = newRight)
}

/** PQ encode: 1-based nearest-codeword id per subspace (min L2 as
  * argmax dot−½‖w‖², ties to the smaller code — the exact expression
  * the oracle replays). Round 12. */
case class PqEncode(child: Expression, codebooks: Array[Array[Array[Double]]])
    extends UnaryExpression with ExpectsInputTypes {
  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
    "codebooks must be non-empty per subspace")

  override def equals(other: Any): Boolean = other match {
    case t: PqEncode =>
      child == t.child && java.util.Arrays.deepEquals(
        codebooks.asInstanceOf[Array[AnyRef]], t.codebooks.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int = java.util.Objects.hash(child,
    Int.box(java.util.Arrays.deepHashCode(codebooks.asInstanceOf[Array[AnyRef]])))

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.VectorKernels.pqEncode(v.asInstanceOf[ArrayData], codebooks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("codebooks", codebooks, "double[][][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorKernels.pqEncode($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** Per-query ADC lookup table over flattened uniform codebooks
  * (round 12): tab(m·nCodes + c−1) = dot(q_sub(m), w(m)(c−1)). */
case class PqQueryTable(child: Expression, codebooks: Array[Array[Array[Double]]])
    extends UnaryExpression with ExpectsInputTypes {
  require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty),
    "codebooks must be non-empty per subspace")

  override def equals(other: Any): Boolean = other match {
    case t: PqQueryTable =>
      child == t.child && java.util.Arrays.deepEquals(
        codebooks.asInstanceOf[Array[AnyRef]], t.codebooks.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int = java.util.Objects.hash(child,
    Int.box(java.util.Arrays.deepHashCode(codebooks.asInstanceOf[Array[AnyRef]])))

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_query_table"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.VectorKernels.pqQueryTable(v.asInstanceOf[ArrayData], codebooks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("codebooks", codebooks, "double[][][]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorKernels.pqQueryTable($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): PqQueryTable =
    copy(child = newChild)
}

/** O(M) asymmetric-distance lookup: Σ_m tab(m·nCodes + codes(m)−1)
  * (round 12) — the per-candidate cost drop from O(dim) to O(M) that
  * makes PQ the memory/compute tier under IVF. */
case class PqAdc(left: Expression, right: Expression, nCodes: Int)
    extends BinaryExpression with ExpectsInputTypes {
  require(nCodes >= 1, s"nCodes must be >= 1, got $nCodes")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"

  override protected def nullSafeEval(tab: Any, codes: Any): Any =
    graft.functions.VectorKernels.pqAdc(
      tab.asInstanceOf[ArrayData], codes.asInstanceOf[ArrayData], nCodes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, c) => s"graft.functions.VectorKernels.pqAdc($t, $c, $nCodes)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdc =
    copy(left = newLeft, right = newRight)
}

/** SQ8 scalar-quantization encode: array<double> → one byte per
  * dimension with the trained per-dimension (min, span). See
  * [[graft.functions.VectorKernels.sq8Encode]].
  */
case class Sq8Encode(child: Expression, mins: Array[Double],
                     spans: Array[Double])
    extends UnaryExpression with ExpectsInputTypes {
  require(mins.nonEmpty && mins.length == spans.length,
    "sq8_encode: mins/spans must be non-empty and same length")

  override def equals(other: Any): Boolean = other match {
    case t: Sq8Encode =>
      child == t.child && java.util.Arrays.equals(mins, t.mins) &&
        java.util.Arrays.equals(spans, t.spans)
    case _ => false
  }
  override def hashCode(): Int = java.util.Objects.hash(child,
    Int.box(java.util.Arrays.hashCode(mins)),
    Int.box(java.util.Arrays.hashCode(spans)))

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = BinaryType
  override def prettyName: String = "sq8_encode"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.VectorKernels.sq8Encode(v.asInstanceOf[ArrayData], mins, spans)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mr = ctx.addReferenceObj("mins", mins, "double[]")
    val sr = ctx.addReferenceObj("spans", spans, "double[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorKernels.sq8Encode($c, $mr, $sr)")
  }

  override protected def withNewChildInternal(newChild: Expression): Sq8Encode =
    copy(child = newChild)
}

/** SQ8 decode: codes → reconstructed array<double>. See
  * [[graft.functions.VectorKernels.sq8Decode]].
  */
case class Sq8Decode(child: Expression, mins: Array[Double],
                     spans: Array[Double])
    extends UnaryExpression with ExpectsInputTypes {
  require(mins.nonEmpty && mins.length == spans.length,
    "sq8_decode: mins/spans must be non-empty and same length")

  override def equals(other: Any): Boolean = other match {
    case t: Sq8Decode =>
      child == t.child && java.util.Arrays.equals(mins, t.mins) &&
        java.util.Arrays.equals(spans, t.spans)
    case _ => false
  }
  override def hashCode(): Int = java.util.Objects.hash(child,
    Int.box(java.util.Arrays.hashCode(mins)),
    Int.box(java.util.Arrays.hashCode(spans)))

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "sq8_decode"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.VectorKernels.sq8Decode(v.asInstanceOf[Array[Byte]], mins, spans)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mr = ctx.addReferenceObj("mins", mins, "double[]")
    val sr = ctx.addReferenceObj("spans", spans, "double[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorKernels.sq8Decode($c, $mr, $sr)")
  }

  override protected def withNewChildInternal(newChild: Expression): Sq8Decode =
    copy(child = newChild)
}

case class VectorLshBucket(child: Expression, nBits: Int, seed: Long)
    extends UnaryExpression with ExpectsInputTypes {
  require(nBits >= 1 && nBits <= 63, s"nBits must be in [1, 63], got $nBits")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = LongType
  override def prettyName: String = "vector_lsh_bucket"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.VectorKernels.lshBucket(v.asInstanceOf[ArrayData], nBits, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorKernels.lshBucket($c, $nBits, ${seed}L)")

  override protected def withNewChildInternal(newChild: Expression): VectorLshBucket =
    copy(child = newChild)
}

/** Content-defined chunk boundaries — 1-based code-point END offsets of
  * the windowed-gear CDC walk. See [[graft.functions.CdcKernels]] for
  * the algorithm contract (reset-free candidates, greedy min/max walk)
  * and why `minLen >= maskBits` is load-bearing.
  */
case class CdcBoundaries(child: Expression, maskBits: Int, minLen: Int, maxLen: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(maskBits >= 1 && maskBits <= 16,
    s"maskBits must be in [1, 16], got $maskBits")
  require(minLen >= maskBits,
    s"minLen ($minLen) must be >= maskBits ($maskBits): the hash window " +
      "must fit inside the shortest admissible chunk for boundaries to be " +
      "reset-free (CdcKernels scaladoc)")
  require(maxLen > minLen, s"maxLen ($maxLen) must be > minLen ($minLen)")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "cdc_boundaries"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.CdcKernels.boundaries(
      v.asInstanceOf[UTF8String], maskBits, minLen, maxLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.CdcKernels.boundaries($c, $maskBits, $minLen, $maxLen)")

  override protected def withNewChildInternal(newChild: Expression): CdcBoundaries =
    copy(child = newChild)
}

/** Unicode NFC normalization (UAX #15 canonical composition) via the
  * JDK's `java.text.Normalizer` — no Spark built-in exists for this.
  * Canonically equivalent texts (decomposed `e`+U+0301 vs composed
  * U+00E9, singleton U+212B vs U+00C5) otherwise hash to DIFFERENT
  * dedup fingerprints; normalizing first makes fingerprint equality
  * mean textual equality as a reader sees it. The kernel fast-paths
  * `Normalizer.isNormalized` (true for all-ASCII, i.e. most corpus
  * text) to return the input UTF8String unchanged with no allocation.
  */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.TextKernels.nfcNormalize(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.nfcNormalize($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object WarcRecords {
  val schema: DataType = ArrayType(StructType(Seq(
    StructField("warc_type", StringType, nullable = true),
    StructField("target_uri", StringType, nullable = true),
    StructField("content_type", StringType, nullable = true),
    StructField("payload", BinaryType, nullable = false))), containsNull = false)
}

/** WARC (ISO 28500) blob → record rows; gzip members inflated
  * (zip-bomb-guarded), NULL for malformed/truncated archives. See
  * [[graft.functions.WarcKernels.records]].
  */
case class WarcRecords(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = WarcRecords.schema
  override def nullable: Boolean = true
  override def prettyName: String = "warc_records"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.WarcKernels.records(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.WarcKernels.records($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): WarcRecords =
    copy(child = newChild)
}

object HttpParts {
  val schema: StructType = StructType(Seq(
    StructField("status", IntegerType, nullable = false),
    StructField("content_type", StringType, nullable = true),
    StructField("body", BinaryType, nullable = true),
    // 'compress' (r16: gzip/deflate/zstd/br all decode now) when the
    // Content-Encoding is RECOGNIZED but this kernel carries no
    // decoder for it — body is NULL, the rest of the message
    // survives, and triage can count these as known-but-undecoded
    // instead of lumping them with junk
    StructField("encoding_undecoded", StringType, nullable = true)))
}

/** HTTP message payload → (status, content_type, body,
  * encoding_undecoded); NULL for non-HTTP payloads. See
  * [[graft.functions.WarcKernels.httpParts]].
  */
case class HttpParts(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = HttpParts.schema
  override def nullable: Boolean = true
  override def prettyName: String = "http_parts"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.WarcKernels.httpParts(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.WarcKernels.httpParts($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): HttpParts =
    copy(child = newChild)
}

object GopherCounts {
  val schema: StructType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("sum_word_len", LongType, nullable = false),
    StructField("n_symbols", LongType, nullable = false),
    StructField("n_alpha_words", LongType, nullable = false),
    StructField("n_lines", LongType, nullable = false),
    StructField("n_bullet", LongType, nullable = false),
    StructField("n_ellipsis_lines", LongType, nullable = false),
    StructField("stop_hits", LongType, nullable = false)))
}

/** One-pass Gopher rule counts — see
  * [[graft.functions.TextKernels.gopherCounts]]. */
case class GopherCounts(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = GopherCounts.schema
  override def prettyName: String = "gopher_counts"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.TextKernels.gopherCounts(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.gopherCounts($c)")

  override protected def withNewChildInternal(newChild: Expression): GopherCounts =
    copy(child = newChild)
}

object C4Counts {
  val schema: StructType = StructType(Seq(
    StructField("n_lines", LongType, nullable = false),
    StructField("n_kept_lines", LongType, nullable = false),
    StructField("n_sentences", LongType, nullable = false),
    StructField("has_lorem", BooleanType, nullable = false),
    StructField("has_brace", BooleanType, nullable = false),
    StructField("clean", StringType, nullable = false)))
}

/** One-pass C4 rule counts + cleaned text — see
  * [[graft.functions.TextKernels.c4Counts]]. */
case class C4Counts(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = C4Counts.schema
  override def prettyName: String = "c4_counts"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.TextKernels.c4Counts(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextKernels.c4Counts($c)")

  override protected def withNewChildInternal(newChild: Expression): C4Counts =
    copy(child = newChild)
}

object DecodeText {
  val schema: StructType = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("encoding", StringType, nullable = false),
    StructField("n_fallback_bytes", LongType, nullable = false)))
}

/** Bytes → (text, encoding, n_fallback_bytes): BOM-aware encoding
  * sniff with strict-UTF-8 validation and a windows-1252 fallback —
  * fail-open (ingest never drops a page over encoding). See
  * [[graft.functions.EncodingKernels.decodeText]].
  */
case class DecodeText(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = DecodeText.schema
  override def prettyName: String = "decode_text"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.EncodingKernels.decodeText(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.EncodingKernels.decodeText($c)")

  override protected def withNewChildInternal(newChild: Expression): DecodeText =
    copy(child = newChild)
}

/** Avro object-container triage: (schema_json, codec, n_blocks,
  * n_records) from frame arithmetic alone — no record decode; NULL on
  * malformed framing. See [[graft.functions.AvroKernels.meta]].
  */
case class AvroMeta(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = graft.functions.AvroKernels.schema
  override def nullable: Boolean = true
  override def prettyName: String = "avro_meta"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.AvroKernels.meta(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.AvroKernels.meta($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): AvroMeta =
    copy(child = newChild)
}

/** JSON structure profile: every node as a (path, jtype) row, array
  * elements merged under `[*]`; NULL for anything that is not one
  * valid RFC 8259 document. See
  * [[graft.functions.JsonShapeKernels.paths]].
  */
case class JsonPaths(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType =
    ArrayType(graft.functions.JsonShapeKernels.rowSchema, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "json_paths"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.JsonShapeKernels.paths(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.JsonShapeKernels.paths($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): JsonPaths =
    copy(child = newChild)
}

/** TAR (ustar) member listing: (name, typeflag, size) rows, checksum
  * verified per header; NULL on any malformed framing. See
  * [[graft.functions.TarKernels.entries]].
  */
case class TarEntries(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType =
    ArrayType(graft.functions.TarKernels.entrySchema, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "tar_entries"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.TarKernels.entries(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.TarKernels.entries($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): TarEntries =
    copy(child = newChild)
}

/** One TAR regular member's bytes by name; NULL on a missing name or
  * malformed archive. See [[graft.functions.TarKernels.extract]].
  */
case class TarExtract(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, StringType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "tar_extract"

  override protected def nullSafeEval(blob: Any, name: Any): Any =
    graft.functions.TarKernels.extract(
      blob.asInstanceOf[Array[Byte]], name.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, n) => s"""
      ${ev.value} = graft.functions.TarKernels.extract($b, $n);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): TarExtract = copy(left = newLeft, right = newRight)
}

/** ZIP central-directory listing: (name, method, compressed_size,
  * size) rows in directory order; NULL on malformed/zip64/encrypted
  * archives. See [[graft.functions.ZipKernels.entries]].
  */
case class ZipEntries(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType =
    ArrayType(graft.functions.ZipKernels.entrySchema, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "zip_entries"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.ZipKernels.entries(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.ZipKernels.entries($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): ZipEntries =
    copy(child = newChild)
}

/** One ZIP entry's bytes by name — stored/deflate, CRC32 + size
  * verified, inflate-capped; NULL on a missing name or any mismatch.
  * See [[graft.functions.ZipKernels.extract]].
  */
case class ZipExtract(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, StringType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "zip_extract"

  override protected def nullSafeEval(blob: Any, name: Any): Any =
    graft.functions.ZipKernels.extract(
      blob.asInstanceOf[Array[Byte]], name.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, n) => s"""
      ${ev.value} = graft.functions.ZipKernels.extract($b, $n);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ZipExtract = copy(left = newLeft, right = newRight)
}

/** HTML `<table>` cells as flat (table, row, col, text) rows; NULL on
  * a truncated document (unclosed table). See
  * [[graft.functions.TableKernels.tables]].
  */
case class HtmlTables(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType =
    ArrayType(graft.functions.TableKernels.cellSchema, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "html_tables"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.TableKernels.tables(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.TableKernels.tables($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): HtmlTables =
    copy(child = newChild)
}

/** XLSX (SpreadsheetML) cells as flat (row, col, value) rows from
  * the `sheet`-th worksheet (1-based, default 1) + sharedStrings;
  * NULL on truncated/malformed archives or an absent sheet. See
  * [[graft.functions.XlsxKernels.cells]].
  */
case class XlsxCells(child: Expression, sheet: Int = 1)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType =
    ArrayType(graft.functions.XlsxKernels.cellSchema, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "xlsx_cells"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.XlsxKernels.cells(v.asInstanceOf[Array[Byte]], sheet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.XlsxKernels.cells($c, $sheet);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): XlsxCells =
    copy(child = newChild)
}

/** Legacy `.xls` (BIFF8) worksheet cells (round 17): the same flat
  * (row, col, value) contract as [[XlsxCells]], decoded from the CFB
  * `Workbook` stream; NULL for damaged/encrypted/BIFF5 blobs or a
  * missing sheet. See [[graft.functions.XlsKernels.cells]].
  */
case class XlsCells(child: Expression, sheet: Int = 1)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType =
    ArrayType(graft.functions.XlsxKernels.cellSchema, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "xls_cells"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.XlsKernels.cells(v.asInstanceOf[Array[Byte]], sheet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.XlsKernels.cells($c, $sheet);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): XlsCells =
    copy(child = newChild)
}

/** 64-bit perceptual dHash of an image blob — uncompressed rasters
  * (P6/P5/BMP) and, since round 15, the codec formats (PNG/JPEG/GIF/
  * TIFF) through the decoders' pixel-sink mode; NULL for undecodable,
  * sub-9×8, or malformed input. See
  * [[graft.functions.PHashKernels.dhash64]].
  */
case class DHash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "dhash64"

  override protected def nullSafeEval(v: Any): Any = {
    val h = graft.functions.PHashKernels.dhash64(v.asInstanceOf[Array[Byte]])
    if (h == null) null else h.longValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      // ctx.freshName, not a fixed identifier: with a non-nullable child
      // nullSafeCodeGen emits this block unbraced, so two dhash64 calls in
      // one projection would otherwise declare duplicate locals and kick
      // the whole stage back to interpreted mode (ADVICE r14).
      val dh = ctx.freshName("dhash")
      s"""
      java.lang.Long $dh = graft.functions.PHashKernels.dhash64($c);
      if ($dh == null) { ${ev.isNull} = true; }
      else { ${ev.value} = $dh.longValue(); }
    """
    })

  override protected def withNewChildInternal(newChild: Expression): DHash64 =
    copy(child = newChild)
}

/** 64-bit temporal energy-envelope fingerprint of an audio blob
  * (WAV PCM/G.711/IMA-ADPCM, AU, AIFF, FLAC) — the dHash trick on the
  * time axis; NULL for undecodable blobs or streams shorter than 65
  * samples. See [[graft.functions.AudioKernels.energyDhash64]].
  */
case class AudioDhash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "audio_dhash64"

  override protected def nullSafeEval(v: Any): Any = {
    val h = graft.functions.AudioKernels.energyDhash64(v.asInstanceOf[Array[Byte]])
    if (h == null) null else h.longValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val dh = ctx.freshName("adhash")
      s"""
      java.lang.Long $dh = graft.functions.AudioKernels.energyDhash64($c);
      if ($dh == null) { ${ev.isNull} = true; }
      else { ${ev.value} = $dh.longValue(); }
    """
    })

  override protected def withNewChildInternal(newChild: Expression): AudioDhash64 =
    copy(child = newChild)
}

/** 64-bit temporal luma-envelope fingerprint of a video blob (MJPEG
  * MP4 / animated GIF); NULL for undecodable containers, any
  * undecodable frame, or fewer than 2 frames. See
  * [[graft.functions.MediaKernels.videoDhash64]].
  */
case class VideoDhash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "video_dhash64"

  override protected def nullSafeEval(v: Any): Any = {
    val h = graft.functions.MediaKernels.videoDhash64(v.asInstanceOf[Array[Byte]])
    if (h == null) null else h.longValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val dh = ctx.freshName("vdhash")
      s"""
      java.lang.Long $dh = graft.functions.MediaKernels.videoDhash64($c);
      if ($dh == null) { ${ev.isNull} = true; }
      else { ${ev.value} = $dh.longValue(); }
    """
    })

  override protected def withNewChildInternal(newChild: Expression): VideoDhash64 =
    copy(child = newChild)
}

object CfbEntries {
  val elementSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("entry_type", IntegerType, nullable = false),
    StructField("size", LongType, nullable = false)))
}

/** OLE2 / Compound File Binary member listing (round 16): flat
  * directory entries as struct(name, entry_type, size) — entry_type
  * 1 = storage, 2 = stream, 5 = root; NULL blob-wide on any
  * structural failure. See [[graft.functions.CfbKernels.entries]].
  */
case class CfbEntries(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType =
    ArrayType(CfbEntries.elementSchema, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "cfb_entries"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.CfbKernels.entries(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.CfbKernels.entries($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): CfbEntries =
    copy(child = newChild)
}

/** Legacy `.doc` text (round 16): the WordDocument stream's
  * contiguous [fcMin, fcMax) range of a NON-COMPLEX, unencrypted
  * Word file; NULL otherwise. See
  * [[graft.functions.CfbKernels.docText]].
  */
case class DocText(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "doc_text"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.CfbKernels.docText(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.CfbKernels.docText($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): DocText =
    copy(child = newChild)
}

/** Legacy `.ppt` text (round 17): TextCharsAtom/TextBytesAtom
  * contents of the PowerPoint Document record tree, newline-joined;
  * NULL for encrypted (CryptSession10Container) or malformed decks.
  * See [[graft.functions.PptKernels.pptText]].
  */
case class PptText(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "ppt_text"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.PptKernels.pptText(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.PptKernels.pptText($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): PptText =
    copy(child = newChild)
}

/** PPTX slide text (round 17): `<a:t>` runs of `ppt/slides/slideN.xml`
  * in part order, paragraphs as lines, slides blank-line-separated;
  * NULL for damaged archives or non-presentations.
  * See [[graft.functions.PptxKernels.pptxText]].
  */
case class PptxText(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "pptx_text"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.PptxKernels.pptxText(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.PptxKernels.pptxText($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): PptxText =
    copy(child = newChild)
}

/** ID3 tag extraction (round 17): struct(title, artist, album, year)
  * from ID3v2.2/2.3/2.4 text frames (unsynchronization reversed,
  * encodings 0-3) with ID3v1 per-field fallback; NULL when no tag is
  * present or the v2 framing is damaged.
  * See [[graft.functions.Id3Kernels.id3Tags]].
  */
case class Id3Tags(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = graft.functions.Id3Kernels.schema
  override def nullable: Boolean = true
  override def prettyName: String = "id3_tags"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.Id3Kernels.id3Tags(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.Id3Kernels.id3Tags($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): Id3Tags =
    copy(child = newChild)
}

/** EML/MIME message extraction (round 17): struct(from, to, subject,
  * date, n_parts, text) — RFC 2047 header words, RFC 2045 transfer
  * encodings, RFC 2046 multipart walk with text/html parts routed
  * through the crawl tier's HTML extractor; NULL for non-mail or
  * undecodable input. See [[graft.functions.EmlKernels.emlParts]].
  */
case class EmlParts(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = graft.functions.EmlKernels.schema
  override def nullable: Boolean = true
  override def prettyName: String = "eml_parts"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.EmlKernels.emlParts(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.EmlKernels.emlParts($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): EmlParts =
    copy(child = newChild)
}

/** mbox splitting (round 17): `From ` envelope-separated messages as
  * array<binary> (envelope lines dropped, mboxrd `>From ` unescaped);
  * each element feeds [[EmlParts]]. NULL for non-mbox input.
  * See [[graft.functions.EmlKernels.mboxMessages]].
  */
case class MboxMessages(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "mbox_messages"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.EmlKernels.mboxMessages(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.EmlKernels.mboxMessages($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): MboxMessages =
    copy(child = newChild)
}

/** RTF text (round 17): group-structured control-word walk with
  * destination skipping, cp1252 + `\uN` decoding, and the symbol
  * words; NULL for non-RTF or structurally damaged input.
  * See [[graft.functions.RtfKernels.rtfText]].
  */
case class RtfText(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "rtf_text"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.RtfKernels.rtfText(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.RtfKernels.rtfText($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): RtfText =
    copy(child = newChild)
}

object SevenZipMeta {
  val schema: StructType = StructType(Seq(
    StructField("version", StringType, nullable = false),
    StructField("next_header_size", LongType, nullable = false),
    StructField("encoded", BooleanType, nullable = false),
    StructField("pack_bytes", LongType, nullable = false)))
}

/** 7z triage (round 17): CRC-verified signature-header arithmetic —
  * struct(version, next_header_size, encoded, pack_bytes); no payload
  * decode; NULL on malformed framing.
  * See [[graft.functions.ArchiveKernels.sevenZipMeta]].
  */
case class SevenZipMeta(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = SevenZipMeta.schema
  override def nullable: Boolean = true
  override def prettyName: String = "sevenzip_meta"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.ArchiveKernels.sevenZipMeta(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.ArchiveKernels.sevenZipMeta($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): SevenZipMeta =
    copy(child = newChild)
}

object RarMeta {
  val schema: StructType = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("n_blocks", LongType, nullable = false),
    StructField("n_files", LongType, nullable = false),
    StructField("encrypted", BooleanType, nullable = false)))
}

/** RAR4/RAR5 triage (round 17): CRC-verified block-header walk —
  * struct(version, n_blocks, n_files, encrypted); encrypted headers
  * stop the walk honestly; NULL on malformed framing.
  * See [[graft.functions.ArchiveKernels.rarMeta]].
  */
case class RarMeta(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = RarMeta.schema
  override def nullable: Boolean = true
  override def prettyName: String = "rar_meta"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.ArchiveKernels.rarMeta(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.ArchiveKernels.rarMeta($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): RarMeta =
    copy(child = newChild)
}

/** Embedded PDF image XObjects (round 17): array of struct(obj,
  * format, width, height, data) — DCTDecode payloads verbatim as
  * `jpeg`, decoded DeviceRGB/DeviceGray rasters re-framed as binary
  * P6/P5 (`ppm`/`pgm`) ready for the dhash tier, recognized-but-
  * undecoded spaces as `unsupported` with NULL data. NULL blob-wide
  * on malformed/undecryptable documents.
  * See [[graft.functions.PdfKernels.images]].
  */
case class PdfImages(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType =
    ArrayType(graft.functions.PdfKernels.imageSchema, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pdf_images"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.PdfKernels.images(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.PdfKernels.images($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): PdfImages =
    copy(child = newChild)
}

object ParquetMeta {
  val schema: StructType = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("num_rows", LongType, nullable = false),
    StructField("n_row_groups", LongType, nullable = false),
    StructField("n_schema_elements", LongType, nullable = false)))
}

/** Parquet blob triage (round 16): footer-only metadata —
  * struct(version, num_rows, n_row_groups, n_schema_elements); no
  * column chunk read; NULL on malformed framing. See
  * [[graft.functions.ParquetKernels.meta]].
  */
case class ParquetMeta(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ParquetMeta.schema
  override def nullable: Boolean = true
  override def prettyName: String = "parquet_meta"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.ParquetKernels.meta(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.ParquetKernels.meta($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): ParquetMeta =
    copy(child = newChild)
}

object PdfMeta {
  val schema: DataType = StructType(Seq(
    StructField("version", StringType, nullable = false),
    StructField("n_pages", IntegerType, nullable = false),
    StructField("encrypted", BooleanType, nullable = false)))
}

/** PDF triage (r14): (version, n_pages, encrypted) via the xref walk
  * (classic tables + xref streams + /Prev chains); NULL for anything
  * the fail-closed parser can't vouch for. See
  * [[graft.functions.PdfKernels.meta]].
  */
case class PdfMeta(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = PdfMeta.schema
  override def nullable: Boolean = true
  override def prettyName: String = "pdf_meta"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.PdfKernels.meta(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.PdfKernels.meta($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): PdfMeta =
    copy(child = newChild)
}

/** PDF text extraction (r14): page-tree walk + content-stream
  * text-showing operators (Tj ' " TJ, newlines on Td/TD/T*); NULL for
  * encrypted documents, unsupported filters, or any framing the
  * parser can't vouch for. See [[graft.functions.PdfKernels.text]].
  */
case class PdfText(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "pdf_text"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.PdfKernels.text(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.PdfKernels.text($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): PdfText =
    copy(child = newChild)
}

/** Concatenated-member gzip inflate (r14): member-exact, CRC32+ISIZE
  * verified, zip-bomb-guarded; NULL on any corruption, truncation, or
  * trailing garbage. The column form of the WARC ingest's inflater —
  * gzipped sitemaps (`sitemap.xml.gz`), `.jsonl.gz` shards, and any
  * other gzip payload decode in-plan through the same fail-closed
  * kernel. See [[graft.functions.WarcKernels.gunzipAll]].
  */
case class Gunzip(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true // NULL on any corruption
  override def prettyName: String = "gunzip"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.WarcKernels.gunzipAll(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.WarcKernels.gunzipAll($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): Gunzip =
    copy(child = newChild)
}

/** Zstandard decompression (round 15, RFC 8878 — pure-JVM decoder):
  * multi-frame, skippable frames skipped, XXH64 checksum verified,
  * dictionaries refused, inflation-capped; NULL on any corruption.
  * The `.warc.zst` / `Content-Encoding: zstd` column form. See
  * [[graft.functions.ZstdKernels.decompress]].
  */
case class ZstdDecompress(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true // NULL on any corruption
  override def prettyName: String = "zstd_decompress"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.ZstdKernels.decompress(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.ZstdKernels.decompress($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): ZstdDecompress =
    copy(child = newChild)
}

/** Dictionary-frame Zstandard decompression (round 17, RFC 8878 §5):
  * `right` is the dictionary blob — structured (magic 0xEC30A437,
  * entropy tables + recent offsets + content, embedded ID checked
  * against the frame's Dictionary_ID) or raw content. NULL on any
  * corruption, ID mismatch, or a NULL dictionary.
  * See [[graft.functions.ZstdKernels.decompress]].
  */
case class ZstdDecompressDict(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "zstd_decompress"

  override protected def nullSafeEval(v: Any, d: Any): Any =
    graft.functions.ZstdKernels.decompress(
      v.asInstanceOf[Array[Byte]], d.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, d) => s"""
      ${ev.value} = graft.functions.ZstdKernels.decompress($c, $d);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZstdDecompressDict =
    copy(left = newLeft, right = newRight)
}

/** Brotli decompression (round 16, RFC 7932 — pure-JVM decoder): the
  * full format incl. the static dictionary with all 121 transforms,
  * context modeling and block switching; inflation-capped; NULL on
  * any corruption. The `Content-Encoding: br` / `.br` asset column
  * form. See [[graft.functions.BrotliKernels.decompress]].
  */
case class BrotliDecompress(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true // NULL on any corruption
  override def prettyName: String = "brotli_decompress"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.BrotliKernels.decompress(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.BrotliKernels.decompress($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): BrotliDecompress =
    copy(child = newChild)
}

/** LZW `.Z` (Unix compress) decompression (round 17): the RFC
  * 9110-registered `compress` content coding and the 0x1F9D magic in
  * old crawls; block and non-block modes, maxbits 9..16;
  * inflation-capped; NULL on any corruption.
  * See [[graft.functions.LzwKernels.decompress]].
  */
case class LzwDecompress(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true // NULL on any corruption
  override def prettyName: String = "lzw_decompress"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.LzwKernels.decompress(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.LzwKernels.decompress($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): LzwDecompress =
    copy(child = newChild)
}

/** LZW `.Z` COMPRESSION (round 17) — the in-plan encoder twin of
  * [[LzwDecompress]], so fixtures and roundtrip pipelines can make
  * real block-mode streams per row (LzwSpec pins the encoder's output
  * as decodable by gzip and libarchive). Greedy table build, maxbits
  * 16. See [[graft.functions.LzwKernels.compress]].
  */
case class LzwCompress(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "lzw_compress"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.LzwKernels.compress(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.LzwKernels.compress($c, 16, 0)")

  override protected def withNewChildInternal(newChild: Expression): LzwCompress =
    copy(child = newChild)
}

/** LZ4 frame decompression (round 17): standard + legacy frames,
  * linked/independent blocks, XXH32 checksums verified, skippable
  * frames, multi-frame input; dictionary frames refused;
  * inflation-capped; NULL on any corruption.
  * See [[graft.functions.Lz4Kernels.decompress]].
  */
case class Lz4Decompress(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true // NULL on any corruption
  override def prettyName: String = "lz4_decompress"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.Lz4Kernels.decompress(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.Lz4Kernels.decompress($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): Lz4Decompress =
    copy(child = newChild)
}

/** LZ4 store-mode frame COMPRESSION (round 17) — the in-plan encoder
  * twin of [[Lz4Decompress]] (uncompressed 64 KB blocks + XXH32
  * content checksum; Lz4Spec pins the frames as decodable by the
  * reference binary). See [[graft.functions.Lz4Kernels.compressStore]].
  */
case class Lz4CompressStore(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = BinaryType
  override def prettyName: String = "lz4_compress_store"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.Lz4Kernels.compressStore(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Lz4Kernels.compressStore($c)")

  override protected def withNewChildInternal(newChild: Expression): Lz4CompressStore =
    copy(child = newChild)
}

object RobotsParse {
  val schema: DataType = ArrayType(StructType(Seq(
    StructField("agent", StringType, nullable = false),
    StructField("allow", BooleanType, nullable = false),
    StructField("pattern", StringType, nullable = false))), containsNull = false)
}

/** robots.txt → (agent, allow, pattern) rule rows (RFC 9309 grouping).
  * See [[graft.functions.RobotsKernels.parse]].
  */
case class RobotsParse(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = RobotsParse.schema
  override def prettyName: String = "robots_parse"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.RobotsKernels.parse(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.RobotsKernels.parse($c)")

  override protected def withNewChildInternal(newChild: Expression): RobotsParse =
    copy(child = newChild)
}

/** `Sitemap:` URLs of a robots.txt, file order, group-independent.
  * See [[graft.functions.RobotsKernels.sitemaps]].
  */
case class RobotsSitemaps(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "robots_sitemaps"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.RobotsKernels.sitemaps(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.RobotsKernels.sitemaps($c)")

  override protected def withNewChildInternal(newChild: Expression): RobotsSitemaps =
    copy(child = newChild)
}

/** Sitemap / sitemap-index entries: array of (kind, loc, lastmod)
  * structs in document order; NULL on any malformed framing. See
  * [[graft.functions.SitemapKernels.entries]].
  */
case class SitemapEntries(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType =
    ArrayType(graft.functions.SitemapKernels.schema, containsNull = false)
  override def nullable: Boolean = true // NULL on malformed framing
  override def prettyName: String = "sitemap_entries"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.SitemapKernels.entries(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.SitemapKernels.entries($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): SitemapEntries =
    copy(child = newChild)
}

/** EXIF metadata (round 17): struct(orientation, datetime, make,
  * model, gps_lat, gps_lon) from a JPEG APP1 Exif segment or bare
  * TIFF; NULL when no EXIF block exists or its structure is damaged.
  * See [[graft.functions.ExifKernels.exifMeta]].
  */
case class ExifMeta(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = graft.functions.ExifKernels.schema
  override def nullable: Boolean = true
  override def prettyName: String = "exif_meta"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.ExifKernels.exifMeta(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.ExifKernels.exifMeta($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): ExifMeta =
    copy(child = newChild)
}

/** Web-font triage (round 17): struct(format, family, n_glyphs,
  * n_tables) for TTF/OTF/TTC/WOFF (WOFF2 header-only); NULL on
  * malformed framing. See [[graft.functions.FontKernels.fontMeta]].
  */
case class FontMeta(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = graft.functions.FontKernels.schema
  override def nullable: Boolean = true
  override def prettyName: String = "font_meta"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.FontKernels.fontMeta(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.FontKernels.fontMeta($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): FontMeta =
    copy(child = newChild)
}

/** HTML page metadata (round 17): struct(title, description,
  * og_title, og_description, og_image, canonical, lang) — best-effort
  * head scraping (HTML is soup: fields are NULL when absent, the
  * struct is NULL only for NULL input).
  * See [[graft.functions.HtmlKernels.htmlMeta]].
  */
case class HtmlMeta(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = graft.functions.HtmlKernels.metaSchema
  override def nullable: Boolean = true
  override def prettyName: String = "html_meta"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.HtmlKernels.htmlMeta(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.HtmlKernels.htmlMeta($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): HtmlMeta =
    copy(child = newChild)
}

/** RSS/Atom feed entries (round 17): array of (kind, title, link,
  * date, summary) structs in document order; NULL on any malformed
  * framing. See [[graft.functions.FeedKernels.feedEntries]].
  */
case class FeedEntries(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType =
    ArrayType(graft.functions.FeedKernels.schema, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "feed_entries"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.FeedKernels.feedEntries(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.FeedKernels.feedEntries($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): FeedEntries =
    copy(child = newChild)
}

/** `Crawl-delay:` directives of a robots.txt with group attribution:
  * array of (agent, delay-seconds) rows. See
  * [[graft.functions.RobotsKernels.crawlDelays]].
  */
case class RobotsCrawlDelays(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("agent", StringType, nullable = false),
    StructField("delay", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "robots_crawl_delays"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.RobotsKernels.crawlDelays(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.RobotsKernels.crawlDelays($c)")

  override protected def withNewChildInternal(
      newChild: Expression): RobotsCrawlDelays = copy(child = newChild)
}

/** RFC 9309 robots path match: `*` wildcards, trailing `$` anchor,
  * prefix semantics. See [[graft.functions.RobotsKernels.matches]].
  */
case class RobotsMatch(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "robots_match"

  override protected def nullSafeEval(path: Any, pattern: Any): Any =
    graft.functions.RobotsKernels.matches(
      path.asInstanceOf[UTF8String], pattern.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (p, q) => s"graft.functions.RobotsKernels.matches($p, $q)")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): RobotsMatch =
    copy(left = newLeft, right = newRight)
}

/** RFC 3986 §5.2 reference resolution (base, ref) → absolute URL;
  * NULL for an unparseable base. See
  * [[graft.functions.UrlKernels.resolve]].
  */
case class UrlResolve(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "url_resolve"

  override protected def nullSafeEval(base: Any, ref: Any): Any =
    graft.functions.UrlKernels.resolve(
      base.asInstanceOf[UTF8String], ref.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, r) => s"""
      ${ev.value} = graft.functions.UrlKernels.resolve($b, $r);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): UrlResolve =
    copy(left = newLeft, right = newRight)
}

object UrlParts {
  val schema: StructType = StructType(Seq(
    StructField("normalized", StringType, nullable = false),
    StructField("scheme", StringType, nullable = false),
    StructField("host", StringType, nullable = false),
    StructField("port", IntegerType, nullable = true),
    StructField("path", StringType, nullable = false),
    StructField("query", StringType, nullable = true),
    StructField("apex", StringType, nullable = false)))
}

/** URL canonicalization + parts — NULL for unparseable input
  * (fail-closed). See [[graft.functions.UrlKernels.urlParts]] for the
  * normalization contract.
  */
case class UrlParts(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = UrlParts.schema
  override def nullable: Boolean = true
  override def prettyName: String = "url_parts"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.UrlKernels.urlParts(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the kernel returns null for NON-null unparseable input
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.UrlKernels.urlParts($c);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): UrlParts =
    copy(child = newChild)
}

/** `href` values of `<a>`/`<area>` tags in document order — the
  * frontier-discovery pass. See
  * [[graft.functions.HtmlKernels.htmlLinks]].
  */
case class HtmlLinks(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "html_links"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.HtmlKernels.htmlLinks(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HtmlKernels.htmlLinks($c)")

  override protected def withNewChildInternal(newChild: Expression): HtmlLinks =
    copy(child = newChild)
}

/** HTML → plain text (WET-style boilerplate strip): tags dropped with
  * block separation preserved, script/style/comment contents removed,
  * character references decoded, whitespace collapsed. One O(bytes)
  * codegen kernel — see [[graft.functions.HtmlKernels.htmlExtract]]
  * for the exact (oracle-replayable) semantics.
  */
case class HtmlExtract(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = "html_extract"

  override protected def nullSafeEval(v: Any): Any =
    graft.functions.HtmlKernels.htmlExtract(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HtmlKernels.htmlExtract($c)")

  override protected def withNewChildInternal(newChild: Expression): HtmlExtract =
    copy(child = newChild)
}
