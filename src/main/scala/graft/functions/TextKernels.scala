package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass text statistics kernel behind
  * the `text_stats` kernel. Replaces ~8 separate regex /
  * higher-order-function passes per document with one walk over the
  * string, while reproducing the exact counting semantics of the
  * column-composed originals in [[TextFunctions]] (which are what the
  * DuckDB oracle SQL mirrors):
  *
  *  - tokens = `split(trim(text), "\\s+", -1)` semantics: trim strips
  *    SPACES only; a leading/trailing non-space whitespace run yields an
  *    empty token (Java split keeps them with limit -1); token count =
  *    whitespace-runs + 1; empty trimmed text = 0 tokens.
  *  - n_subtokens = matches of `[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]` (ASCII
  *    letter/digit runs; any other non-ws char counts singly).
  *  - n_punct = chars not matching `[\p{L}\p{N}\s]` (Unicode letter,
  *    Unicode number category, ASCII whitespace) over the RAW text.
  *  - stopword hits per language over the (lowercased) tokens.
  */
object TextKernels {

  // Java \s (no UNICODE flag): the 6 ASCII ws chars incl. \x0B. NB: RE2's
  // \s EXCLUDES \x0B, so oracle SQL must spell the class out explicitly
  // ('[ \t\n\x0B\f\r]') rather than using \s — see Queries.qTextStats.
  private def isWs(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0b || cp == '\f' || cp == '\r'

  private def isUnicodeNumber(cp: Int): Boolean = {
    val t = Character.getType(cp)
    t == Character.DECIMAL_DIGIT_NUMBER || t == Character.LETTER_NUMBER ||
      t == Character.OTHER_NUMBER
  }

  private val En = TextFunctions.StopwordsEn.toSet
  private val Fr = TextFunctions.StopwordsFr.toSet
  private val Es = TextFunctions.StopwordsEs.toSet
  private val De = TextFunctions.StopwordsDe.toSet
  private val MaxStopLen = (En ++ Fr ++ Es ++ De).map(_.length).max

  /** Returns struct(n_chars, n_tokens, n_subtokens, n_punct,
    * hits_en, hits_fr, hits_es, hits_de) — all longs.
    */
  def stats(s: UTF8String): InternalRow = {
    val str = s.toString
    val len = str.codePointCount(0, str.length)

    var nPunct = 0L
    var nSub = 0L
    // raw-text pass: punctuation + subtoken runs
    var i = 0
    var inLetters = false
    var inDigits = false
    while (i < str.length) {
      val cp = str.codePointAt(i)
      val ws = isWs(cp)
      if (!ws && !Character.isLetter(cp) && !isUnicodeNumber(cp)) nPunct += 1
      val asciiLetter = (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z')
      val asciiDigit = cp >= '0' && cp <= '9'
      if (asciiLetter) { if (!inLetters) nSub += 1; inLetters = true; inDigits = false }
      else if (asciiDigit) { if (!inDigits) nSub += 1; inDigits = true; inLetters = false }
      else {
        inLetters = false; inDigits = false
        if (!ws) nSub += 1
      }
      i += Character.charCount(cp)
    }

    // token pass over the space-trimmed text
    var start = 0
    var end = str.length
    while (start < end && str.charAt(start) == ' ') start += 1
    while (end > start && str.charAt(end - 1) == ' ') end -= 1

    var nTokens = 0L
    var hitsEn = 0L; var hitsFr = 0L; var hitsEs = 0L; var hitsDe = 0L
    if (end > start) {
      nTokens = 1L
      var tokStart = start
      var inWsRun = false
      val sb = new java.lang.StringBuilder(8)
      def countToken(from: Int, until: Int): Unit = {
        val n = until - from
        if (n > 0 && n <= MaxStopLen * 2) { // cp count <= char count
          sb.setLength(0)
          var j = from
          while (j < until) {
            val cp = str.codePointAt(j)
            sb.appendCodePoint(Character.toLowerCase(cp))
            j += Character.charCount(cp)
          }
          val t = sb.toString
          if (t.length <= MaxStopLen) {
            if (En.contains(t)) hitsEn += 1
            if (Fr.contains(t)) hitsFr += 1
            if (Es.contains(t)) hitsEs += 1
            if (De.contains(t)) hitsDe += 1
          }
        }
      }
      var j = start
      while (j < end) {
        val cp = str.codePointAt(j)
        if (isWs(cp)) {
          if (!inWsRun) { nTokens += 1; countToken(tokStart, j); inWsRun = true }
        } else if (inWsRun) { tokStart = j; inWsRun = false }
        j += Character.charCount(cp)
      }
      if (!inWsRun) countToken(tokStart, end)
    }

    new GenericInternalRow(Array[Any](
      len.toLong, nTokens, nSub, nPunct, hitsEn, hitsFr, hitsEs, hitsDe))
  }

  /** Token-window chunking for training pipelines: sliding windows of
    * `maxTokens` whitespace tokens advancing by `maxTokens - overlap`,
    * each chunk re-joined with single spaces. Tokenization matches the
    * rest of this kernel family (space-trim, then split on runs of the
    * 6 ASCII whitespace chars, keeping boundary empties — the exact
    * `string_split_regex` semantics the DuckDB oracle uses); empty
    * trimmed text yields ZERO chunks. One pass, no regex.
    */
  def chunkTokens(s: UTF8String, maxTokens: Int, overlap: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val str = s.toString
    val step = maxTokens - overlap

    val tokens = trimmedTokens(str)
    if (tokens == null)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val n = tokens.length
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var cs = 0
    while (cs < n) {
      val until = math.min(cs + maxTokens, n)
      out += UTF8String.fromString(tokens.slice(cs, until).mkString(" "))
      cs += step
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** Split `str[start, end)` on runs of the 6 ASCII whitespace chars,
    * keeping boundary empties — the exact semantics of Spark
    * `split(trim(text), "\\s+")` and DuckDB `string_split_regex` that
    * the whole kernel family (and every oracle) is pinned to.
    */
  /** The family tokenization in one call: space-trim (SPACES only, like
    * SQL `trim`), then [[splitKeepingEmpties]]. Returns null when the
    * trimmed text is empty — the kernels' zero-token case — so the trim
    * contract lives in exactly one place.
    */
  private def trimmedTokens(str: String)
      : scala.collection.mutable.ArrayBuffer[String] = {
    var start = 0
    var end = str.length
    while (start < end && str.charAt(start) == ' ') start += 1
    while (end > start && str.charAt(end - 1) == ' ') end -= 1
    if (end <= start) null else splitKeepingEmpties(str, start, end)
  }

  private def splitKeepingEmpties(str: String, start: Int, end: Int)
      : scala.collection.mutable.ArrayBuffer[String] = {
    val tokens = scala.collection.mutable.ArrayBuffer.empty[String]
    var tokStart = start
    var inWsRun = false
    var j = start
    while (j < end) {
      val cp = str.codePointAt(j)
      if (isWs(cp)) {
        if (!inWsRun) { tokens += str.substring(tokStart, j); inWsRun = true }
      } else if (inWsRun) { tokStart = j; inWsRun = false }
      j += Character.charCount(cp)
    }
    tokens += (if (inWsRun) "" else str.substring(tokStart, end))
    tokens
  }

  private val GopherStops: Array[String] = TextFunctions.GopherStopwords.toArray
  private val Bullets: Set[Int] = TextFunctions.BulletChars.map(_.codePointAt(0)).toSet

  /** SPACE-trim bounds of [from, until) — SQL `trim` semantics (0x20
    * only), shared by the line-level rules. */
  private def spaceTrim(str: String, from: Int, until: Int): (Int, Int) = {
    var a = from; var b = until
    while (a < b && str.charAt(a) == ' ') a += 1
    while (b > a && str.charAt(b - 1) == ' ') b -= 1
    (a, b)
  }

  /** One-pass counts behind [[TextFunctions.gopherRules]] —
    * struct(n_words, sum_word_len, n_symbols, n_alpha_words, n_lines,
    * n_bullet, n_ellipsis_lines, stop_hits), all longs. The
    * higher-order-function formulation re-tokenized the document once
    * PER RULE (HOF lambdas defeat codegen subexpression elimination —
    * measured 5.6 s for q_quality_rules at sf0.1); this walks the text
    * once for the token rules, once for the line rules, once for the
    * symbol counts. Semantics are bit-compatible with the builtin
    * formulation the DuckDB oracle replays: family tokenization
    * (space-trim, ws-run split keeping boundary empties), codepoint
    * token lengths, non-overlapping left-to-right `...` runs,
    * space-trimmed line tests.
    */
  def gopherCounts(s: UTF8String): InternalRow = {
    val str = s.toString
    // token rules
    var nWords = 0L; var sumLen = 0L; var nAlpha = 0L
    var stopBits = 0
    val toks = trimmedTokens(str)
    if (toks != null) {
      var i = 0
      while (i < toks.length) {
        val t = toks(i)
        nWords += 1
        sumLen += t.codePointCount(0, t.length)
        var alpha = false
        var j = 0
        while (!alpha && j < t.length) {
          val c = t.charAt(j)
          if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) alpha = true
          j += 1
        }
        if (alpha) nAlpha += 1
        if (t.length <= 4) {
          var k = 0
          while (k < GopherStops.length) {
            if ((stopBits & (1 << k)) == 0 &&
              t.equalsIgnoreCase(GopherStops(k))) stopBits |= 1 << k
            k += 1
          }
        }
        i += 1
      }
    }
    // symbol counts over the RAW text: '#' + '…' chars + '...' runs
    // (left-to-right non-overlapping, the replace() contract)
    var nSym = 0L
    var i = 0
    while (i < str.length) {
      val c = str.charAt(i)
      if (c == '#' || c == '…') { nSym += 1; i += 1 }
      else if (c == '.' && i + 2 < str.length &&
        str.charAt(i + 1) == '.' && str.charAt(i + 2) == '.') {
        nSym += 1; i += 3
      } else i += 1
    }
    // line rules (split on newlines, space-trimmed, empties skipped)
    var nLines = 0L; var nBullet = 0L; var nEll = 0L
    var ls = 0
    while (ls <= str.length) {
      var le = str.indexOf('\n', ls)
      if (le < 0) le = str.length
      val (a, b) = spaceTrim(str, ls, le)
      if (b > a) {
        nLines += 1
        if (Bullets.contains(str.codePointAt(a))) nBullet += 1
        if (str.charAt(b - 1) == '…' ||
          (b - a >= 3 && str.charAt(b - 1) == '.' &&
            str.charAt(b - 2) == '.' && str.charAt(b - 3) == '.')) nEll += 1
      }
      ls = le + 1
    }
    new GenericInternalRow(Array[Any](nWords, sumLen, nSym, nAlpha,
      nLines, nBullet, nEll, java.lang.Integer.bitCount(stopBits).toLong))
  }

  /** One-pass counts + cleaned text behind [[TextFunctions.c4Rules]] —
    * struct(n_lines, n_kept_lines, n_sentences, has_lorem, has_brace,
    * clean). Same single-pass motivation and compatibility contract as
    * [[gopherCounts]]: kept line = ≥ 5 family-contract words AND a
    * terminal last character (. ! ? " '), `clean` = space-trimmed kept
    * lines joined with newlines, sentences = maximal `[.!?]+` runs over
    * the raw text.
    */
  def c4Counts(s: UTF8String): InternalRow = {
    val str = s.toString
    var nLines = 0L; var nKept = 0L
    val clean = new java.lang.StringBuilder(math.min(str.length, 1 << 12))
    var ls = 0
    while (ls <= str.length) {
      var le = str.indexOf('\n', ls)
      if (le < 0) le = str.length
      val (a, b) = spaceTrim(str, ls, le)
      if (b > a) {
        nLines += 1
        val last = str.charAt(b - 1)
        val terminal = last == '.' || last == '!' || last == '?' ||
          last == '"' || last == '\''
        if (terminal && splitKeepingEmpties(str, a, b).length >= 5) {
          nKept += 1
          if (clean.length() > 0) clean.append('\n')
          clean.append(str, a, b)
        }
      }
      ls = le + 1
    }
    var nSent = 0L
    var i = 0
    var inRun = false
    while (i < str.length) {
      val c = str.charAt(i)
      val p = c == '.' || c == '!' || c == '?'
      if (p && !inRun) { nSent += 1; inRun = true }
      else if (!p) inRun = false
      i += 1
    }
    val lower = s.toLowerCase
    val hasLorem = lower.contains(UTF8String.fromString("lorem ipsum"))
    val hasBrace = str.indexOf('{') >= 0
    new GenericInternalRow(Array[Any](nLines, nKept, nSent,
      hasLorem, hasBrace, UTF8String.fromString(clean.toString)))
  }

  /** Unicode NFC normalization (UAX #15) behind
    * the `nfc_normalize` kernel. `Normalizer.isNormalized`
    * first: for already-NFC input (all ASCII in particular) the input
    * UTF8String is returned as-is — no String round-trip, no
    * allocation — so the common case costs one quick-check scan.
    */
  def nfcNormalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** Repetition counts in one pass: (n_tokens, n_distinct, top_count)
    * — the inputs of the Gopher-style repetition ratios. The
    * higher-order-function formulation is O(distinct · tokens) per
    * document (a filter scan per distinct token); this is one hash-map
    * pass. Tokenization matches the family contract exactly (space-trim
    * then whitespace-run split keeping boundary empties). Empty trimmed
    * text → (0, 0, 0); callers gate the ratios on n_tokens > 0.
    */
  def repetitionCounts(s: UTF8String): InternalRow = {
    val tokens = trimmedTokens(s.toString)
    if (tokens == null) return new GenericInternalRow(Array[Any](0L, 0L, 0L))

    val counts = new java.util.HashMap[String, Int](math.min(tokens.length * 2, 1 << 16))
    var top = 0
    var i = 0
    while (i < tokens.length) {
      val c = counts.merge(tokens(i), 1, (a, b) => a + b)
      if (c > top) top = c
      i += 1
    }
    new GenericInternalRow(Array[Any](
      tokens.length.toLong, counts.size.toLong, top.toLong))
  }

  /** Distinct word n-grams, space-joined, first-occurrence order — the
    * single-pass kernel behind [[Kernels.wordNgrams]].
    * The higher-order-function formulation (transform + slice +
    * array_join + array_distinct) walks every token n times and builds
    * a temp array per gram; this walks the tokens once with one
    * StringBuilder and one hash set, which is what the decontamination
    * and top-n-gram corpus passes spend their time in. Empty trimmed
    * text or fewer than n tokens yield an EMPTY array (null handling is
    * the expression's, not the kernel's).
    */
  def wordNgrams(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val tokens = trimmedTokens(s.toString)
    if (tokens == null)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val m = tokens.length
    if (m < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])

    val seen = new java.util.LinkedHashSet[String](math.min(m, 1024))
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + n <= m) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(tokens(i + k))
        k += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var idx = 0
    while (it.hasNext) { out(idx) = UTF8String.fromString(it.next()); idx += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** ALL word n-grams in document order, duplicates kept — the COUNTING
    * variant of [[wordNgrams]] (language-model training and scoring need
    * occurrence frequencies; the distinct variant would undercount
    * repeated grams). Same tokenization, same empty/short-text contract.
    */
  def allWordNgrams(s: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val tokens = trimmedTokens(s.toString)
    if (tokens == null)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val m = tokens.length
    if (m < n)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new Array[Any](m - n + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + n <= m) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(tokens(i + k))
        k += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}
