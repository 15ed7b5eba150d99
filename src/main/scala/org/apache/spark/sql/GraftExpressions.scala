package org.apache.spark.sql

import org.apache.commons.lang3.ClassUtils
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, ExpectsInputTypes, Expression, UnaryExpression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, BinaryType, BooleanType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/* Native Catalyst expressions backing graft's custom functions. They live
  * in this package because `AbstractDataType` (the `ExpectsInputTypes`
  * contract) is `private[sql]` in Spark 4; the algorithm bodies stay in
  * `graft.functions` as public static methods the generated Java calls.
  * Codegen'd — these stay inside whole-stage codegen, unlike a Scala UDF
  * which forces a serialization boundary per row.
  *
  * Almost every kernel is one static call, so it is one [[Kernel]] entry
  * in the [[Kernels]] registry, run by the one generic [[KernelCall]]
  * expression; SQL registration ([[GraftSqlFunctions]]) and the Column
  * API (`Kernels.x(cols, consts)`) derive from the entries, and both
  * build the call through [[Kernel.expr]], which also casts numeric
  * arrays to an `array<double>` input. Hand-written
  * below the registry: the aggregate [[CollectSmallest]],
  * [[SortedLongJaccard]] (its method depends on the input types) and
  * [[MultiMatch]] (its DFA builds lazily, once per plan reference).
  */

/** A constant argument of a kernel, fixed at plan time.
  *
  * @param cls      its JVM type: `Int`, `Long`, `Double` and `Boolean`
  *                 inline into the generated Java as literals, anything
  *                 else (arrays, functions) rides as a reference object
  * @param default  value when a Column-API or SQL caller omits it
  * @param sql      whether SQL may pass it (as a literal integer);
  *                 otherwise SQL always uses `default`
  * @param leading  passed before the column arguments in the call
  */
final case class KernelConst(name: String, cls: Class[_], default: Option[Any] = None,
                       sql: Boolean = true, leading: Boolean = false) {
  def accepts(v: Any): Boolean = ClassUtils.primitiveToWrapper(cls).isInstance(v)

  /** Java source for the value `v` in generated code. */
  def javaArg(ctx: CodegenContext, v: Any): String = v match {
    case l: Long => s"${l}L"
    case x @ (_: Int | _: Double | _: Boolean) => x.toString
    case ref => ctx.addReferenceObj(name, ref, cls.getCanonicalName)
  }
}

/** One registry entry: a public static method `graft.functions.<call>`
  * taking the column values (as their Catalyst internal types) and the
  * constants, in [[callArgs]] order.
  *
  * @param mayReturnNull the kernel can return NULL for non-NULL input
  *                      (unrecognized or malformed data): the result is
  *                      always nullable; otherwise it is nullable exactly
  *                      when an input is. NULL input always gives NULL.
  * @param usage         SQL usage text; `null` when not SQL-callable
  * @param check         argument checks on the constants
  */
final class Kernel private[sql] (
    val name: String, val inputs: Seq[DataType], val result: DataType, call: String,
    val mayReturnNull: Boolean, val consts: Seq[KernelConst], val usage: String,
    check: Seq[Any] => Unit) extends Serializable {
  val owner: String = "graft.functions." + call.substring(0, call.lastIndexOf('.'))
  val method: String = call.substring(call.lastIndexOf('.') + 1)
  val key: String = s"$name/${inputs.length}"
  require(usage == null || consts.forall(c =>
      if (c.sql) c.cls == classOf[Int] else c.default.isDefined),
    s"$name: SQL passes only integer constants; the others need a default")

  /** SQL argument counts. */
  def sqlMin: Int = inputs.length + consts.count(c => c.sql && c.default.isEmpty)
  def sqlMax: Int = inputs.length + consts.count(_.sql)

  /** The kernel over `args`: its first `inputs.length` are the input
    * Columns, the rest constants; omitted trailing constants take their
    * defaults. */
  def apply(args: Any*): Column = {
    val (cols, vals) = args.splitAt(inputs.length)
    GraftBridge.column(expr(cols.map {
      case c: Column => GraftBridge.expression(c)
      case other => throw new IllegalArgumentException(s"$name: input $other is not a Column")
    }, vals))
  }

  /** The call over `children`; an `array<double>` input accepts any
    * numeric array through a cast (exact for floats, and dropped by the
    * optimizer when the input already is `array<double>`). */
  def expr(children: Seq[Expression], vals: Seq[Any]): KernelCall =
    KernelCall(this, children.zip(inputs).map {
      case (e, ArrayType(DoubleType, _)) => Cast(e, ArrayType(DoubleType))
      case (e, _) => e
    }, vals ++ consts.drop(vals.length).map(c =>
      c.default.getOrElse(throw new IllegalArgumentException(s"$name: missing ${c.name}"))))

  private[sql] def validate(children: Seq[Expression], vals: Seq[Any]): Unit = {
    require(children.length == inputs.length,
      s"$name takes ${inputs.length} inputs, got ${children.length}")
    require(vals.length == consts.length && consts.zip(vals).forall { case (c, v) => c.accepts(v) },
      s"$name takes constants ${consts.map(c => s"${c.name}: ${c.cls.getSimpleName}")
        .mkString("(", ", ", ")")}, got ${vals.mkString("(", ", ", ")")}")
    check(vals)
  }

  /** The call's argument list: leading constants, inputs, other constants. */
  def callArgs[A](children: Seq[A], vals: Seq[A]): Seq[A] = {
    val (lead, rest) = consts.zip(vals).partition(_._1.leading)
    lead.map(_._2) ++ children ++ rest.map(_._2)
  }

  /** The static method, for interpreted evaluation. */
  @transient lazy val staticMethod: java.lang.reflect.Method =
    Class.forName(owner).getMethod(method,
      callArgs(inputs.map(CodeGenerator.javaClass), consts.map(_.cls)): _*)

  override def toString: String = s"$owner.$method"

  // one instance per entry, also after deserialization
  private def readResolve(): AnyRef = Kernels.byKey(key)
}

/** One kernel call. Codegen emits `owner.method(args)` with scalar
  * constants inlined; `eval` (constant folding, interpreted mode) invokes
  * the same method reflectively. Constants compare by value, arrays
  * included, so equal kernels canonicalize and share subexpressions. */
case class KernelCall(kernel: Kernel, children: Seq[Expression], consts: Seq[Any])
    extends Expression with ExpectsInputTypes {
  kernel.validate(children, consts)

  override def inputTypes: Seq[AbstractDataType] = kernel.inputs
  override def dataType: DataType = kernel.result
  override def nullable: Boolean = kernel.mayReturnNull || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = kernel.name
  override protected def stringArgs: Iterator[Any] = children.iterator ++ consts.iterator

  @transient private lazy val constArray: Array[AnyRef] = consts.map(_.asInstanceOf[AnyRef]).toArray
  override def equals(other: Any): Boolean = other match {
    case k: KernelCall => (k eq this) || kernel == k.kernel && children == k.children &&
      java.util.Arrays.deepEquals(constArray, k.constArray)
    case _ => false
  }
  @transient private lazy val hash =
    java.util.Objects.hash(kernel.key, children, Int.box(java.util.Arrays.deepHashCode(constArray)))
  override def hashCode(): Int = hash

  override def eval(input: InternalRow): Any = {
    val args = new Array[AnyRef](children.length)
    var i = 0
    while (i < args.length) {
      val v = children(i).eval(input)
      if (v == null) return null
      args(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    try kernel.staticMethod.invoke(null, kernel.callArgs(args.toSeq, constArray.toSeq): _*)
    catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val args = kernel.callArgs(gens.map(_.value.toString),
      kernel.consts.zip(consts).map { case (c, v) => c.javaArg(ctx, v) })
    val call = s"${kernel.owner}.${kernel.method}(${args.mkString(", ")})"
    val javaType = CodeGenerator.javaType(dataType)
    val assign =
      if (!kernel.mayReturnNull) s"${ev.value} = $call;"
      else if (CodeGenerator.isPrimitiveType(dataType)) {
        // a primitive result that can be NULL comes back boxed; a fresh
        // name, so two such calls in one projection cannot collide
        val boxed = ctx.freshName("boxed")
        s"""${CodeGenerator.boxedType(dataType)} $boxed = $call;
           |if ($boxed == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $boxed.${javaType}Value(); }""".stripMargin
      } else s"${ev.value} = $call;\n${ev.isNull} = ${ev.value} == null;"
    if (!nullable) {
      ev.copy(code = code"""
        ${gens.map(_.code).mkString("\n")}
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        $assign""", isNull = FalseLiteral)
    } else {
      // each input is evaluated only once the ones before it are non-NULL
      val body = children.zip(gens).foldRight(s"${ev.isNull} = false;\n$assign") {
        case ((c, g), inner) => s"${g.code}\n" + ctx.nullSafeExec(c.nullable, g.isNull)(inner)
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        $body""")
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelCall = copy(children = newChildren)
}

/** The kernel registry: one entry per kernel. Applying an entry builds
  * its Column (`Kernels.minHashes(hashes, 128)`), the kernel's one
  * Column API; SQL-callable entries (non-null `usage`) register under
  * their name. */
object Kernels {
  private val entries = Seq.newBuilder[Kernel]
  private def kernel(name: String, inputs: Seq[DataType], result: DataType, call: String,
                     mayReturnNull: Boolean = false, consts: Seq[KernelConst] = Nil,
                     usage: String = null, check: Seq[Any] => Unit = _ => ()): Kernel = {
    val k = new Kernel(name, inputs, result, call, mayReturnNull, consts, usage, check)
    entries += k
    k
  }

  private val S = StringType
  private val B = BinaryType
  private val I = IntegerType
  private val L = LongType
  private val D = DoubleType
  private def arr(t: DataType) = ArrayType(t, containsNull = false)
  private def int(name: String) = KernelConst(name, classOf[Int])
  private def double(name: String) = KernelConst(name, classOf[Double])
  private def ref(name: String, cls: Class[_]) = KernelConst(name, cls)
  private val matrix = classOf[Array[Array[Double]]]
  private val codebooks = classOf[Array[Array[Array[Double]]]]
  private val vector = classOf[Array[Double]]
  private def nonEmptyCentroids: Seq[Any] => Unit = { case Seq(c: Array[_]) =>
    require(c.nonEmpty, "centroids must be non-empty") }
  private def nonEmptyCodebooks: Seq[Any] => Unit = { case Seq(c: Array[Array[Array[Double]]]) =>
    require(c.nonEmpty && c.forall(_.nonEmpty), "codebooks must be non-empty per subspace") }
  private def sq8Ranges(fn: String): Seq[Any] => Unit = {
    case Seq(mins: Array[Double], spans: Array[Double]) =>
      require(mins.nonEmpty && mins.length == spans.length,
        s"$fn: mins/spans must be non-empty and same length") }
  private def atLeastOne(what: String): Seq[Any] => Unit = { case Seq(n: Int) =>
    require(n >= 1, s"$what must be >= 1, got $n") }
  private def bitsCheck: Seq[Any] => Unit = { case Seq(bits: Int) =>
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits") }

  // ---- strings, similarity, dedup --------------------------------------

  val jaroWinkler = kernel("jaro_winkler", Seq(S, S), D, "JaroWinkler.similarity",
    usage = "jaro_winkler(a, b) - Jaro-Winkler similarity in [0,1]")
  /** Length band with integer boundaries for the thresholded fuzzy join's
    * ratio filter (see JaroWinkler.lengthBand). */
  val fuzzyLengthBand = kernel("fuzzy_length_band", Seq(S), I, "JaroWinkler.lengthBandOf",
    consts = Seq(double("r")), check = { case Seq(r: Double) =>
      require(r > 0.0 && r < 1.0, s"ratio bound must be in (0, 1), got $r") })
  /** Occurrence-tagged sorted-prefix signature for the thresholded fuzzy
    * join: two strings that can reach the JW bound share an entry. */
  val fuzzySignature = kernel("fuzzy_signature", Seq(S), arr(L), "JaroWinkler.signatureData",
    consts = Seq(double("frac")), check = { case Seq(frac: Double) =>
      require(frac > 0.0 && frac <= 1.0, s"overlap fraction must be in (0, 1], got $frac") })
  val shingleHashes64 = kernel("shingle_hashes64", Seq(S), arr(L),
    "MinHashKernels.shingleHashes", consts = Seq(int("n")),
    usage = "shingle_hashes64(text, n) - sorted distinct n-gram shingle hashes",
    check = { case Seq(n: Int) => require(n >= 1, s"shingle size must be >= 1, got $n") })
  val minHashes = kernel("minhashes", Seq(ArrayType(L)), arr(L), "MinHashKernels.minHashes",
    consts = Seq(int("k")), usage = "minhashes(hashes, k) - K-member MinHash signature",
    check = { case Seq(k: Int) =>
      require(k >= 1 && k <= 4096, s"signature size must be in [1, 4096], got $k") })
  val simHash64 = kernel("simhash64", Seq(ArrayType(S)), L, "SimHash.simhash64",
    usage = "simhash64(tokens) - 64-bit SimHash of a string array")
  val simHashText = kernel("simhash_text", Seq(S), L, "SimHash.simhashText64",
    usage = "simhash_text(text) - one-pass lowercase+tokenize+SimHash")
  val nfcNormalize = kernel("nfc_normalize", Seq(S), S, "TextKernels.nfcNormalize",
    usage = "nfc_normalize(text) - Unicode NFC normalization (UAX #15)")
  val cdcBoundaries = kernel("cdc_boundaries", Seq(S), arr(I), "CdcKernels.boundaries",
    consts = Seq(int("maskBits"), int("minLen"), int("maxLen")),
    usage = "cdc_boundaries(text, maskBits, minLen, maxLen) - content-defined " +
      "chunk end offsets (1-based code points; windowed-gear CDC)",
    check = { case Seq(maskBits: Int, minLen: Int, maxLen: Int) =>
      require(maskBits >= 1 && maskBits <= 16,
        s"maskBits must be in [1, 16], got $maskBits")
      require(minLen >= maskBits,
        s"minLen ($minLen) must be >= maskBits ($maskBits): the hash window " +
          "must fit inside the shortest admissible chunk for boundaries to be " +
          "reset-free (CdcKernels scaladoc)")
      require(maxLen > minLen, s"maxLen ($maxLen) must be > minLen ($minLen)") })
  /** CMS only over-counts: `exact <= estimate <= exact + eps * N` at the
    * sketch's confidence. */
  val cmsEstimate = kernel("cms_estimate", Seq(B, S), L, "SketchKernels.cmsEstimate",
    usage = "cms_estimate(sketch, item) - point estimate from a " +
      "count_min_sketch binary for a string item")

  // ---- text statistics and tokenization ---------------------------------

  /** One pass: n_chars, n_tokens, n_subtokens, n_punct and the
    * per-language stop-word hits (see TextKernels.stats). */
  val textStats = kernel("text_stats", Seq(S), TextStats.schema, "TextKernels.stats",
    usage = "text_stats(text) - struct of per-document counts")
  val repetitionCounts = kernel("repetition_counts", Seq(S), RepetitionCounts.schema,
    "TextKernels.repetitionCounts",
    usage = "repetition_counts(text) - struct(n_tokens, n_distinct, top_count)")
  val gopherCounts = kernel("gopher_counts", Seq(S), GopherCounts.schema,
    "TextKernels.gopherCounts")
  val c4Counts = kernel("c4_counts", Seq(S), C4Counts.schema, "TextKernels.c4Counts")
  /** Documents with fewer than n tokens yield an empty array. */
  val wordNgrams = kernel("word_ngrams", Seq(S), arr(S), "TextKernels.wordNgrams",
    consts = Seq(int("n")), check = atLeastOne("n"),
    usage = "word_ngrams(text, n) - distinct space-joined word n-grams, first-occurrence order")
  val wordNgramsAll = kernel("word_ngrams_all", Seq(S), arr(S), "TextKernels.allWordNgrams",
    consts = Seq(int("n")), check = atLeastOne("n"),
    usage = "word_ngrams_all(text, n) - ALL word n-grams in order, duplicates kept")
  /** Windows of `maxTokens` whitespace tokens advancing by
    * `maxTokens - overlap`, each re-joined with single spaces; empty
    * trimmed text yields no chunks. */
  val chunkText = kernel("chunk_text", Seq(S), arr(S), "TextKernels.chunkTokens",
    consts = Seq(int("maxTokens"), int("overlap")),
    usage = "chunk_text(text, maxTokens, overlap) - sliding token-window chunks",
    check = { case Seq(maxTokens: Int, overlap: Int) =>
      require(maxTokens >= 1, s"maxTokens must be >= 1, got $maxTokens")
      require(overlap >= 0 && overlap < maxTokens,
        s"overlap must be in [0, maxTokens), got $overlap") })
  /** Corpus-scale BPE encode; the ranked merges ride as references. */
  val bpeTokens = kernel("bpe_tokens", Seq(S), arr(S), "BpeKernels.tokens",
    consts = Seq(ref("mergesA", classOf[Array[String]]), ref("mergesB", classOf[Array[String]])),
    check = { case Seq(a: Array[String], b: Array[String]) =>
      require(a.length == b.length, s"merge sides differ: ${a.length} vs ${b.length}") })

  // ---- layout keys ------------------------------------------------------

  val zOrder2 = kernel("zorder2", Seq(I, I), L, "LayoutKernels.morton2",
    usage = "zorder2(a, b) - 2-D Z-order (Morton) key, signed-order preserving")
  val zOrderN = kernel("zorder_n", Seq(ArrayType(I)), L, "LayoutKernels.mortonN",
    consts = Seq(int("k")),
    usage = "zorder_n(array(b1, ..., bk), k) - N-dim Morton key over bucket coords, 64/k bits each",
    check = { case Seq(k: Int) => require(k >= 2 && k <= 32, s"k must be in [2, 32], got $k") })
  val hilbert2 = kernel("hilbert2", Seq(I, I), L, "LayoutKernels.hilbert2",
    consts = Seq(int("bits")), check = bitsCheck,
    usage = "hilbert2(x, y, bits) - 2-D Hilbert curve key over [0, 2^bits) bucket coords")
  val hilbertDecode2 = kernel("unhilbert2", Seq(L), arr(I), "LayoutKernels.unhilbert2Array",
    consts = Seq(int("bits")), check = bitsCheck,
    usage = "unhilbert2(key, bits) - inverse Hilbert decode to array(x, y)")

  // ---- vectors, IVF-PQ, SQ8 ---------------------------------------------

  val vectorDot = kernel("vector_dot", Seq(ArrayType(D), ArrayType(D)), D, "VectorKernels.dot",
    usage = "vector_dot(a, b) - dot product of numeric arrays")
  val vectorCosine = kernel("vector_cosine", Seq(ArrayType(D), ArrayType(D)), D,
    "VectorKernels.cosine", usage = "vector_cosine(a, b) - cosine similarity (0 on zero norm)")
  /** A zero vector passes through unchanged. */
  val vectorL2Normalize = kernel("vector_l2_normalize", Seq(ArrayType(D)), arr(D),
    "VectorKernels.l2Normalize", usage = "vector_l2_normalize(a) - unit-length copy")
  /** Sign bits of `nBits` pseudo-random hyperplane projections, each
    * component derived from xxh64 of (seed, bit, dim). */
  val vectorLshBucket = kernel("vector_lsh_bucket", Seq(ArrayType(D)), L, "VectorKernels.lshBucket",
    consts = Seq(int("nBits"), KernelConst("seed", classOf[Long], Some(42L), sql = false)),
    usage = "vector_lsh_bucket(a, nBits) - hyperplane-sign LSH bucket",
    check = { case Seq(nBits: Int, _) =>
      require(nBits >= 1 && nBits <= 63, s"nBits must be in [1, 63], got $nBits") })
  val sumIndexedLongs = kernel("sum_indexed", Seq(ArrayType(L), ArrayType(L)), L,
    "VectorKernels.sumIndexed")
  val dotLongs = kernel("dot_longs", Seq(ArrayType(L), ArrayType(L)), L, "VectorKernels.dotLongs")
  val argminSqDist = kernel("argmin_sq_dist", Seq(ArrayType(L), ArrayType(ArrayType(L))), L,
    "VectorKernels.argminSqDist")
  /** Top-n nearest centroids by dot product (descending, ties to the
    * smaller 1-based id): the IVF assignment/probing kernel. */
  val topCentroids = kernel("top_centroids", Seq(ArrayType(D)), arr(L),
    "VectorKernels.topCentroids", consts = Seq(ref("centroids", matrix), int("n")),
    check = { case Seq(c: Array[_], n: Int) =>
      require(n >= 1, s"n must be >= 1, got $n")
      require(c.nonEmpty, "centroids must be non-empty") })
  /** vec − centroids(cid − 1): the residual a product quantizer codes. */
  val centroidResidual = kernel("centroid_residual", Seq(ArrayType(D), L), arr(D),
    "VectorKernels.centroidResidual", consts = Seq(ref("centroids", matrix)),
    check = nonEmptyCentroids)
  /** dot(vec, centroids(cid − 1)). */
  val centroidDot = kernel("centroid_dot", Seq(ArrayType(D), L), D, "VectorKernels.centroidDot",
    consts = Seq(ref("centroids", matrix)), check = nonEmptyCentroids)
  /** 1-based nearest-codeword id per subspace (min L2, ties to the
    * smaller code). */
  val pqEncode = kernel("pq_encode", Seq(ArrayType(D)), arr(L), "VectorKernels.pqEncode",
    consts = Seq(ref("codebooks", codebooks)), check = nonEmptyCodebooks)
  /** Flattened ADC table: tab(m · nCodes + c − 1) = dot(q_sub(m), w(m)(c − 1)). */
  val pqQueryTable = kernel("pq_query_table", Seq(ArrayType(D)), arr(D),
    "VectorKernels.pqQueryTable", consts = Seq(ref("codebooks", codebooks)),
    check = nonEmptyCodebooks)
  /** Σ_m tab(m · nCodes + codes(m) − 1). */
  val pqAdc = kernel("pq_adc", Seq(ArrayType(D), ArrayType(L)), D, "VectorKernels.pqAdc",
    consts = Seq(int("nCodes")), check = atLeastOne("nCodes"))
  /** One byte per dimension over trained per-dimension (min, span). */
  val sq8Encode = kernel("sq8_encode", Seq(ArrayType(D)), B, "VectorKernels.sq8Encode",
    consts = Seq(ref("mins", vector), ref("spans", vector)), check = sq8Ranges("sq8_encode"))
  val sq8Decode = kernel("sq8_decode", Seq(B), arr(D), "VectorKernels.sq8Decode",
    consts = Seq(ref("mins", vector), ref("spans", vector)), check = sq8Ranges("sq8_decode"))

  // ---- media ------------------------------------------------------------

  /** NULL for unrecognized or truncated blobs. */
  val imageMeta = kernel("image_meta", Seq(B), ImageMeta.schema, "MediaKernels.imageMeta",
    mayReturnNull = true,
    usage = "image_meta(blob) - struct(format, width, height) from the container header")
  /** duration = n_frames / sample_rate; NULL for non-WAV or truncated blobs. */
  val audioMeta = kernel("audio_meta", Seq(B), AudioMeta.schema, "MediaKernels.audioMeta",
    mayReturnNull = true, usage = "audio_meta(blob) - struct(format, channels, " +
      "sample_rate, bits_per_sample, n_frames) from a WAV header")
  /** seconds = duration / timescale; NULL for non-BMFF or corrupt blobs. */
  val videoMeta = kernel("video_meta", Seq(B), VideoMeta.schema, "MediaKernels.videoMeta",
    mayReturnNull = true, usage = "video_meta(blob) - struct(format, timescale, " +
      "duration, n_tracks) from an MP4/MOV container")
  /** Per-track struct(handler, timescale, duration, n_samples,
    * total_bytes) from the mdhd + hdlr + stsz walk; NULL for non-BMFF or
    * corrupt blobs, NULL fields for tracks missing the boxes. */
  val videoTrackStats = kernel("video_track_stats", Seq(B), arr(VideoTrackStats.elementSchema),
    "MediaKernels.videoTrackStats", mayReturnNull = true)
  /** Per-sample byte slices of an MJPEG track, each an independent
    * baseline JPEG; NULL for non-BMFF blobs, compressed-codec tracks or
    * inconsistent sample tables. */
  val mjpegFrames = kernel("mjpeg_frames", Seq(B), arr(B), "MediaKernels.mjpegFrames",
    mayReturnNull = true)
  /** Per-frame struct(x, y, width, height, delay_cs, disposal,
    * transparent_px, mean_r, mean_g, mean_b), each frame decoded against
    * its own palette; NULL blob-wide on any structural failure. */
  val gifFrames = kernel("gif_frames", Seq(B), arr(GifFrames.elementSchema),
    "GifKernels.frameStats", mayReturnNull = true)
  /** Per-blob feature decode: the decoder function rides as a reference
    * and runs inside whole-stage codegen (see MediaKernels.decodeFeatures).
    * Decoders compare by reference: a structurally identical lambda is a
    * missed CSE, never a wrong result. */
  val decodeFeatures = kernel("decode_features", Seq(B), arr(FloatType),
    "MediaKernels.decodeFeatures", consts = Seq(int("dim"),
      KernelConst("decoder", classOf[scala.Function2[_, _, _]], leading = true)),
    check = { case Seq(dim: Int, _) => require(dim >= 1, s"feature dim must be >= 1, got $dim") })
  val dHash64 = kernel("dhash64", Seq(B), L, "PHashKernels.dhash64", mayReturnNull = true,
    usage = "dhash64(binary) - 64-bit perceptual difference hash of a " +
      "raster or codec image (P6/P5/BMP; PNG/JPEG/GIF/TIFF since r15, " +
      "VP8L webp since r16); NULL on undecodable or sub-9x8 input")
  val audioDhash64 = kernel("audio_dhash64", Seq(B), L, "AudioKernels.energyDhash64",
    mayReturnNull = true, usage = "audio_dhash64(binary) - 64-bit temporal energy-envelope " +
      "fingerprint of an audio blob (WAV PCM/G.711/ADPCM, AU, " +
      "AIFF, FLAC); NULL on undecodable or sub-65-sample input")
  val videoDhash64 = kernel("video_dhash64", Seq(B), L, "MediaKernels.videoDhash64",
    mayReturnNull = true, usage = "video_dhash64(binary) - 64-bit temporal luma-envelope " +
      "fingerprint of a video blob (MJPEG MP4, animated GIF); " +
      "NULL on undecodable input or < 2 frames")
  val id3Tags = kernel("id3_tags", Seq(B), graft.functions.Id3Kernels.schema,
    "Id3Kernels.id3Tags", mayReturnNull = true,
    usage = "id3_tags(binary) - ID3v2.2/2.3/2.4 + ID3v1 tag extraction as " +
      "struct(title, artist, album, year); NULL when no tag or damaged v2 framing")
  val exifMeta = kernel("exif_meta", Seq(B), graft.functions.ExifKernels.schema,
    "ExifKernels.exifMeta", mayReturnNull = true,
    usage = "exif_meta(binary) - EXIF metadata from a JPEG APP1 segment or " +
      "bare TIFF: struct(orientation, datetime, make, model, " +
      "gps_lat, gps_lon); NULL when no EXIF block or damaged")
  val fontMeta = kernel("font_meta", Seq(B), graft.functions.FontKernels.schema,
    "FontKernels.fontMeta", mayReturnNull = true,
    usage = "font_meta(binary) - web-font triage as struct(format, family, " +
      "n_glyphs, n_tables) for TTF/OTF/TTC/WOFF (WOFF2 header-only); " +
      "NULL on malformed framing")

  // ---- crawl: WARC, HTTP, robots, sitemaps, feeds, URLs, HTML -----------

  val warcRecords = kernel("warc_records", Seq(B), WarcRecords.schema, "WarcKernels.records",
    mayReturnNull = true, usage = "warc_records(blob) - WARC (ISO 28500) records as " +
      "array<struct(warc_type, target_uri, content_type, payload)>; " +
      "gzip inflated; NULL for malformed archives")
  val httpParts = kernel("http_parts", Seq(B), HttpParts.schema, "WarcKernels.httpParts",
    mayReturnNull = true, usage = "http_parts(payload) - struct(status, content_type, " +
      "body) of an HTTP message payload; NULL when not HTTP")
  val decodeText = kernel("decode_text", Seq(B), DecodeText.schema, "EncodingKernels.decodeText",
    usage = "decode_text(binary) - struct(text, encoding, n_fallback_bytes): " +
      "BOM-aware encoding sniff, strict UTF-8 validation, windows-1252 fallback; fail-open")
  val robotsParse = kernel("robots_parse", Seq(S), RobotsParse.schema, "RobotsKernels.parse",
    usage = "robots_parse(text) - robots.txt rule rows " +
      "array<struct(agent, allow, pattern)> per RFC 9309 grouping")
  val robotsSitemaps = kernel("robots_sitemaps", Seq(S), arr(S), "RobotsKernels.sitemaps",
    usage = "robots_sitemaps(text) - Sitemap: URLs of a robots.txt in file " +
      "order (group-independent per RFC 9309)")
  val robotsCrawlDelays = kernel("robots_crawl_delays", Seq(S), arr(StructType(Seq(
      StructField("agent", S, nullable = false), StructField("delay", D, nullable = false)))),
    "RobotsKernels.crawlDelays", usage = "robots_crawl_delays(text) - Crawl-delay " +
      "directives with group attribution: array<struct(agent, delay)>")
  val robotsMatch = kernel("robots_match", Seq(S, S), BooleanType, "RobotsKernels.matches",
    usage = "robots_match(path, pattern) - RFC 9309 robots path match " +
      "(prefix with * wildcards, trailing $ anchor)")
  val sitemapEntries = kernel("sitemap_entries", Seq(S), arr(graft.functions.SitemapKernels.schema),
    "SitemapKernels.entries", mayReturnNull = true,
    usage = "sitemap_entries(xml) - sitemap/sitemap-index frontier entries " +
      "array<struct(kind, loc, lastmod)>; NULL on malformed framing")
  val feedEntries = kernel("feed_entries", Seq(S), arr(graft.functions.FeedKernels.schema),
    "FeedKernels.feedEntries", mayReturnNull = true,
    usage = "feed_entries(xml) - RSS/Atom feed entries as array<struct(" +
      "kind, title, link, date, summary)>; NULL on malformed framing")
  /** Resolution does not normalize: feed the result to [[urlParts]]. */
  val urlResolve = kernel("url_resolve", Seq(S, S), S, "UrlKernels.resolve", mayReturnNull = true,
    usage = "url_resolve(base, ref) - RFC 3986 reference resolution to an " +
      "absolute URL; NULL for an unparseable base")
  val urlParts = kernel("url_parts", Seq(S), UrlParts.schema, "UrlKernels.urlParts",
    mayReturnNull = true, usage = "url_parts(url) - canonicalized URL and parts " +
      "struct(normalized, scheme, host, port, path, query, apex); NULL when unparseable")
  val htmlMeta = kernel("html_meta", Seq(S), graft.functions.HtmlKernels.metaSchema,
    "HtmlKernels.htmlMeta", mayReturnNull = true,
    usage = "html_meta(html) - page-head metadata as struct(title, " +
      "description, og_title, og_description, og_image, canonical, " +
      "lang); best-effort, NULL fields when absent")
  /** Relative URLs are not resolved (see [[urlResolve]]). */
  val htmlLinks = kernel("html_links", Seq(S), arr(S), "HtmlKernels.htmlLinks",
    usage = "html_links(html) - href values of <a>/<area> tags in document " +
      "order, entity-decoded; script/style/comment content skipped")
  val htmlExtract = kernel("html_extract", Seq(S), S, "HtmlKernels.htmlExtract",
    usage = "html_extract(html) - plain text from HTML: tags stripped with " +
      "block separation, script/style/comments dropped, character " +
      "references decoded, whitespace collapsed")
  /** Tables numbered in document order, nested tables separate, cell
    * text entity-decoded and whitespace-collapsed. */
  val htmlTables = kernel("html_tables", Seq(S), arr(graft.functions.TableKernels.cellSchema),
    "TableKernels.tables", mayReturnNull = true,
    usage = "html_tables(html) - <table> cells as flat (table, row, col, " +
      "text) rows; NULL on an unclosed (truncated) table")
  /** Keys beyond identifier characters are bracketed; NULL for anything
    * that is not one valid RFC 8259 document. */
  val jsonPaths = kernel("json_paths", Seq(S), arr(graft.functions.JsonShapeKernels.rowSchema),
    "JsonShapeKernels.paths", mayReturnNull = true,
    usage = "json_paths(doc) - every JSON node as (path, jtype) rows, array " +
      "elements merged under [*]; NULL on malformed documents")

  // ---- archives, documents, mail ----------------------------------------

  val avroMeta = kernel("avro_meta", Seq(B), graft.functions.AvroKernels.schema,
    "AvroKernels.meta", mayReturnNull = true,
    usage = "avro_meta(binary) - Avro container struct(schema_json, codec, " +
      "n_blocks, n_records) from frame arithmetic; NULL on malformed framing")
  val tarEntries = kernel("tar_entries", Seq(B), arr(graft.functions.TarKernels.entrySchema),
    "TarKernels.entries", mayReturnNull = true,
    usage = "tar_entries(binary) - TAR (ustar) member listing " +
      "array<struct(name, typeflag, size)>, header checksums verified; NULL on malformed framing")
  val tarExtract = kernel("tar_extract", Seq(B, S), B, "TarKernels.extract", mayReturnNull = true,
    usage = "tar_extract(binary, name) - one regular member's bytes; NULL " +
      "on missing name or malformed archive")
  val zipEntries = kernel("zip_entries", Seq(B), arr(graft.functions.ZipKernels.entrySchema),
    "ZipKernels.entries", mayReturnNull = true,
    usage = "zip_entries(binary) - ZIP central-directory listing " +
      "array<struct(name, method, compressed_size, size)>; NULL on " +
      "malformed/zip64/encrypted archives")
  val zipExtract = kernel("zip_extract", Seq(B, S), B, "ZipKernels.extract", mayReturnNull = true,
    usage = "zip_extract(binary, name) - one entry's bytes, CRC32+size " +
      "verified; NULL on missing name or any mismatch")
  val xlsxCells = kernel("xlsx_cells", Seq(B), arr(graft.functions.XlsxKernels.cellSchema),
    "XlsxKernels.cells", mayReturnNull = true, consts = Seq(int("sheet").copy(default = Some(1))),
    usage = "xlsx_cells(binary[, sheet]) - XLSX worksheet cells as flat " +
      "(row, col, value) rows via sharedStrings (sheet 1-based, " +
      "default 1); NULL on malformed archives or an absent sheet")
  val xlsCells = kernel("xls_cells", Seq(B), arr(graft.functions.XlsxKernels.cellSchema),
    "XlsKernels.cells", mayReturnNull = true, consts = Seq(int("sheet").copy(default = Some(1))),
    usage = "xls_cells(binary[, sheet]) - legacy .xls (BIFF8) worksheet " +
      "cells as flat (row, col, value) rows (sheet 1-based, " +
      "default 1); NULL on damaged/encrypted/BIFF5 input or an absent sheet")
  val cfbEntries = kernel("cfb_entries", Seq(B), arr(CfbEntries.elementSchema),
    "CfbKernels.entries", mayReturnNull = true,
    usage = "cfb_entries(binary) - OLE2/Compound File directory listing as " +
      "array of struct(name, entry_type, size); NULL on malformed input")
  val docText = kernel("doc_text", Seq(B), S, "CfbKernels.docText", mayReturnNull = true,
    usage = "doc_text(binary) - legacy Word .doc text (non-complex, " +
      "unencrypted WordDocument stream); NULL otherwise")
  val pptText = kernel("ppt_text", Seq(B), S, "PptKernels.pptText", mayReturnNull = true,
    usage = "ppt_text(binary) - legacy PowerPoint .ppt slide text " +
      "(TextCharsAtom/TextBytesAtom walk, newline-joined); NULL " +
      "for encrypted or malformed decks")
  val pptxText = kernel("pptx_text", Seq(B), S, "PptxKernels.pptxText", mayReturnNull = true,
    usage = "pptx_text(binary) - PPTX slide text (a:t runs per slide part, " +
      "paragraphs as lines); NULL for damaged archives or non-presentations")
  val emlParts = kernel("eml_parts", Seq(B), graft.functions.EmlKernels.schema,
    "EmlKernels.emlParts", mayReturnNull = true,
    usage = "eml_parts(binary) - EML/MIME message extraction: struct(from, " +
      "to, subject, date, n_parts, text) with RFC 2047 header words, " +
      "quoted-printable/base64 bodies, multipart walk; NULL for " +
      "non-mail or undecodable input")
  val mboxMessages = kernel("mbox_messages", Seq(B), arr(B), "EmlKernels.mboxMessages",
    mayReturnNull = true, usage = "mbox_messages(binary) - mbox archive split into " +
      "per-message binaries ('From ' envelopes dropped, mboxrd '>From ' " +
      "unescaped); NULL for non-mbox input")
  val rtfText = kernel("rtf_text", Seq(B), S, "RtfKernels.rtfText", mayReturnNull = true,
    usage = "rtf_text(binary) - RTF text extraction (destination skipping, " +
      "cp1252 + \\uN unicode, symbol words); NULL for non-RTF or damaged input")
  val sevenZipMeta = kernel("sevenzip_meta", Seq(B), SevenZipMeta.schema,
    "ArchiveKernels.sevenZipMeta", mayReturnNull = true,
    usage = "sevenzip_meta(binary) - 7z triage: CRC-verified struct(" +
      "version, next_header_size, encoded, pack_bytes); NULL on malformed framing")
  val rarMeta = kernel("rar_meta", Seq(B), RarMeta.schema, "ArchiveKernels.rarMeta",
    mayReturnNull = true, usage = "rar_meta(binary) - RAR4/RAR5 triage: CRC-verified " +
      "block walk as struct(version, n_blocks, n_files, encrypted); NULL on malformed framing")
  val pdfImages = kernel("pdf_images", Seq(B), arr(graft.functions.PdfKernels.imageSchema),
    "PdfKernels.images", mayReturnNull = true,
    usage = "pdf_images(binary) - embedded PDF image XObjects as array of " +
      "struct(obj, format, width, height, data): jpeg payloads " +
      "verbatim, RGB/gray rasters as P6/P5, others surfaced as " +
      "'unsupported'; NULL on malformed/undecryptable documents")
  val parquetMeta = kernel("parquet_meta", Seq(B), ParquetMeta.schema, "ParquetKernels.meta",
    mayReturnNull = true, usage = "parquet_meta(binary) - footer-only parquet triage: " +
      "struct(version, num_rows, n_row_groups, n_schema_elements); NULL on malformed framing")
  val pdfMeta = kernel("pdf_meta", Seq(B), PdfMeta.schema, "PdfKernels.meta",
    mayReturnNull = true, usage = "pdf_meta(binary) - PDF triage struct(version, " +
      "n_pages, encrypted); NULL on malformed/unsupported framing")
  val pdfText = kernel("pdf_text", Seq(B), S, "PdfKernels.text", mayReturnNull = true,
    usage = "pdf_text(binary) - text-showing-operator extraction across the " +
      "page tree; NULL for encrypted/unsupported documents")

  // ---- compression ------------------------------------------------------

  val gunzip = kernel("gunzip", Seq(B), B, "WarcKernels.gunzipAll", mayReturnNull = true,
    usage = "gunzip(binary) - concatenated-member gzip inflate, CRC/ISIZE " +
      "verified, zip-bomb-guarded; NULL on any corruption")
  val zstdDecompress = kernel("zstd_decompress", Seq(B), B, "ZstdKernels.decompress",
    mayReturnNull = true, usage = "zstd_decompress(binary[, dict]) - Zstandard decompression " +
      "(RFC 8878: multi-frame, checksum-verified; structured or " +
      "raw dictionaries via the 2-arg form, declared-but-missing " +
      "dictionaries refused); NULL on any corruption")
  val zstdDecompressDict = kernel("zstd_decompress", Seq(B, B), B, "ZstdKernels.decompress",
    mayReturnNull = true, usage = zstdDecompress.usage)
  val brotliDecompress = kernel("brotli_decompress", Seq(B), B, "BrotliKernels.decompress",
    mayReturnNull = true, usage = "brotli_decompress(binary) - Brotli decompression " +
      "(RFC 7932: full format incl. static dictionary + transforms); NULL on any corruption")
  val lzwDecompress = kernel("lzw_decompress", Seq(B), B, "LzwKernels.decompress",
    mayReturnNull = true, usage = "lzw_decompress(binary) - Unix compress .Z (LZW) " +
      "decompression (block + non-block modes, maxbits 9..16); NULL on any corruption")
  val lzwCompress = kernel("lzw_compress", Seq(B), B, "LzwKernels.compress",
    consts = Seq(KernelConst("maxbits", classOf[Int], Some(16), sql = false),
      KernelConst("clearEvery", classOf[Int], Some(0), sql = false)),
    usage = "lzw_compress(binary) - Unix compress .Z (LZW) block-mode " +
      "compression, maxbits 16 (reference-decoder-validated)")
  val lz4Decompress = kernel("lz4_decompress", Seq(B), B, "Lz4Kernels.decompress",
    mayReturnNull = true, usage = "lz4_decompress(binary) - LZ4 frame decompression " +
      "(standard + legacy frames, linked blocks, XXH32 verified); NULL on any corruption")
  val lz4CompressStore = kernel("lz4_compress_store", Seq(B), B, "Lz4Kernels.compressStore",
    usage = "lz4_compress_store(binary) - LZ4 store-mode frame (64 KB raw " +
      "blocks + XXH32 content checksum, reference-decoder-validated)")

  val all: Seq[Kernel] = entries.result()
  private lazy val byKeyMap = all.map(k => k.key -> k).toMap
  def byKey(key: String): Kernel = byKeyMap(key)
}

// ---- hand-written expressions -------------------------------------------

/** Exact Jaccard similarity of two sorted-distinct long arrays (shingle
  * hash sets) via a single linear merge. When both input types declare
  * `containsNull = false` the per-row NULL-element check is skipped.
  *
  * `atLeast` is a plan-time constant for a caller that keeps only
  * scores of at least that value: a pair that reaches it gets its exact
  * score, and the merge of any other pair may stop early with a value
  * below it (see [[graft.functions.MinHashKernels.denseJaccardAtLeast]]).
  * The default 0.0 never stops early; SQL's `sorted_jaccard(a, b)` uses
  * it.
  */
case class SortedLongJaccard(left: Expression, right: Expression, atLeast: Double = 0.0)
    extends BinaryExpression with ExpectsInputTypes {
  require(!atLeast.isNaN && !atLeast.isInfinite, s"sorted_jaccard: bad atLeast $atLeast")

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
    if (dense) graft.functions.MinHashKernels.denseJaccardAtLeast(x, y, atLeast)
    else graft.functions.MinHashKernels.sortedJaccardAtLeast(x, y, atLeast)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (dense) "denseJaccardAtLeast" else "sortedJaccardAtLeast"
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.MinHashKernels.$fn($a, $b, ${atLeast}D)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedLongJaccard =
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

/** Bounded collect: the `limit` SMALLEST non-null child values per group
  * (by the type's natural ordering), emitted as a sorted-ascending array —
  * exactly `slice(array_sort(collect_list(x)), 1, limit)`, but with the
  * bound enforced INSIDE the aggregation buffer. `collect_list` holds every member of a
  * group in memory before any cap can apply, so one pathologically hot
  * group (mass-duplicated content in an LSH bucket) can OOM an executor;
  * this buffer never exceeds `limit` elements, in the partial (map-side)
  * aggregation as well as the final one.
  *
  * The buffer is a size-capped max-heap: the largest kept value is O(1)
  * to inspect, so each update is O(log limit) and merge is
  * O(m log limit).
  */
case class CollectSmallest(
    child: Expression,
    limit: Int,
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

  private def offer(buf: scala.collection.mutable.PriorityQueue[Any], v: Any): Unit =
    if (buf.size < limit) buf += v
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

// ---- schemas of the kernels' struct results -----------------------------

object ImageMeta {
  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false)))
}

object AudioMeta {
  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("bits_per_sample", IntegerType, nullable = false),
    StructField("n_frames", LongType, nullable = false)))
}

object VideoMeta {
  val schema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("timescale", LongType, nullable = false),
    StructField("duration", LongType, nullable = false),
    StructField("n_tracks", IntegerType, nullable = false)))
}

object VideoTrackStats {
  val elementSchema: StructType = StructType(Seq(
    StructField("handler", StringType, nullable = true),
    StructField("timescale", LongType, nullable = true),
    StructField("duration", LongType, nullable = true),
    StructField("n_samples", LongType, nullable = true),
    StructField("total_bytes", LongType, nullable = true)))
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

object RepetitionCounts {
  val schema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("top_count", LongType, nullable = false)))
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

object WarcRecords {
  val schema: DataType = ArrayType(StructType(Seq(
    StructField("warc_type", StringType, nullable = true),
    StructField("target_uri", StringType, nullable = true),
    StructField("content_type", StringType, nullable = true),
    StructField("payload", BinaryType, nullable = false))), containsNull = false)
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

object C4Counts {
  val schema: StructType = StructType(Seq(
    StructField("n_lines", LongType, nullable = false),
    StructField("n_kept_lines", LongType, nullable = false),
    StructField("n_sentences", LongType, nullable = false),
    StructField("has_lorem", BooleanType, nullable = false),
    StructField("has_brace", BooleanType, nullable = false),
    StructField("clean", StringType, nullable = false)))
}

object DecodeText {
  val schema: StructType = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("encoding", StringType, nullable = false),
    StructField("n_fallback_bytes", LongType, nullable = false)))
}

object CfbEntries {
  val elementSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("entry_type", IntegerType, nullable = false),
    StructField("size", LongType, nullable = false)))
}

object SevenZipMeta {
  val schema: StructType = StructType(Seq(
    StructField("version", StringType, nullable = false),
    StructField("next_header_size", LongType, nullable = false),
    StructField("encoded", BooleanType, nullable = false),
    StructField("pack_bytes", LongType, nullable = false)))
}

object RarMeta {
  val schema: StructType = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("n_blocks", LongType, nullable = false),
    StructField("n_files", LongType, nullable = false),
    StructField("encrypted", BooleanType, nullable = false)))
}

object ParquetMeta {
  val schema: StructType = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("num_rows", LongType, nullable = false),
    StructField("n_row_groups", LongType, nullable = false),
    StructField("n_schema_elements", LongType, nullable = false)))
}

object PdfMeta {
  val schema: DataType = StructType(Seq(
    StructField("version", StringType, nullable = false),
    StructField("n_pages", IntegerType, nullable = false),
    StructField("encrypted", BooleanType, nullable = false)))
}

object RobotsParse {
  val schema: DataType = ArrayType(StructType(Seq(
    StructField("agent", StringType, nullable = false),
    StructField("allow", BooleanType, nullable = false),
    StructField("pattern", StringType, nullable = false))), containsNull = false)
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
