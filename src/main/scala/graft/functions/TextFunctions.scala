package graft.functions

import org.apache.spark.sql.{Column, Kernels}
import org.apache.spark.sql.functions._

/** Text-analysis column combinators for large-scale training-data
  * pipelines: tokenization, character shingles, language-ID heuristic,
  * quality rules, token counting, document fingerprinting.
  *
  * Everything here composes built-in (codegen'd) `functions._` — no UDFs —
  * so the expressions stay inside whole-stage codegen and are expressible
  * as equivalent ANSI SQL for the DuckDB oracle.
  */
object TextFunctions {

  /** Whitespace tokens of trimmed text; empty string -> empty array. */
  def tokens(text: Column): Column = {
    val t = trim(text)
    when(length(t) === 0, array().cast("array<string>"))
      .otherwise(split(t, "\\s+"))
  }

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("bigint")

  /** Character n-gram shingles (distinct), lowercase. Text shorter than n
    * yields the whole (lowercased, trimmed) text as a single shingle, so
    * short documents still participate in MinHash/Jaccard dedup.
    */
  def charShingles(text: Column, n: Int): Column = {
    val t = lower(trim(text))
    val len = length(t)
    when(len <= n, array(t)).otherwise(
      array_distinct(
        transform(sequence(lit(1), len - (n - 1)), i => t.substr(i, lit(n)))))
  }

  /** 64-bit hashes of the distinct character n-gram shingles of the
    * lowercased, trimmed text — the MinHash/Jaccard working set. One
    * codegen'd O(bytes) kernel per document (see
    * `shingle_hashes64` kernel); hash-set Jaccard equals
    * string-set Jaccard up to 64-bit collisions (~1e-13 per pair at 1e3
    * shingles).
    */
  def shingleHashes(text: Column, n: Int): Column =
    Kernels.shingleHashes64(lower(trim(text)), n)

  val StopwordsEn: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "that")
  val StopwordsFr: Seq[String] =
    Seq("le", "la", "les", "de", "des", "et", "un", "une", "est", "que")
  val StopwordsEs: Seq[String] =
    Seq("el", "la", "los", "las", "de", "y", "un", "una", "es", "que")
  val StopwordsDe: Seq[String] =
    Seq("der", "die", "das", "und", "ein", "eine", "ist", "von", "zu", "mit")

  private def stopHits(text: Column, words: Seq[String]): Column = {
    val toks = tokens(lower(text))
    val stops = array(words.map(lit): _*)
    size(filter(toks, t => array_contains(stops, t)))
  }

  /** Deterministic language-ID heuristic: stopword-hit votes per language,
    * argmax with fixed precedence en > fr > es > de, 'und' (undetermined)
    * when no list scores > 0. A real pipeline would swap in fastText/CLD3;
    * the operator contract (text -> lang code) is what matters here.
    */
  def langIdHeuristic(text: Column): Column = {
    val en = stopHits(text, StopwordsEn)
    val fr = stopHits(text, StopwordsFr)
    val es = stopHits(text, StopwordsEs)
    val de = stopHits(text, StopwordsDe)
    val best = greatest(en, fr, es, de)
    when(best === 0, lit("und"))
      .when(en === best, lit("en"))
      .when(fr === best, lit("fr"))
      .when(es === best, lit("es"))
      .otherwise(lit("de"))
  }

  /** WITHIN-document line dedup — the CCNet-style cleanup that strips
    * boilerplate repeated inside one document (nav menus, cookie
    * banners, repeated headers) before any cross-corpus pass: every
    * line keeps only its FIRST occurrence. Blank lines (whitespace-only
    * after trim) always pass — dropping them would merge unrelated
    * paragraphs. Comparison is exact (no normalization): "foo" and
    * "foo " are different lines; callers wanting normalized matching
    * normalize the text first. Null text stays null.
    *
    * Distinct from [[graft.operators.Dedup.lineDedup]], which dedups
    * lines ACROSS the corpus (one shuffle on the line hash); this is a
    * pure per-row column function — no shuffle, no state, runs inside
    * the scan stage at any scale.
    */
  def dedupLinesWithin(text: Column): Column = {
    val lines = split(text, "\n")
    array_join(filter(lines, (x, i) =>
      trim(x) === "" || array_position(lines, x) === i + 1), "\n")
  }

  /** 64-bit content fingerprint of normalized text (lowercased, runs of
    * whitespace collapsed) — exact-dup detection key that survives
    * trivial formatting differences.
    */
  def contentFingerprint(text: Column): Column =
    // explicit null guard: xxhash64 SKIPS null inputs and returns the
    // seed (42) for them — a silent "all null texts share key 42"
    // footgun; null text must mean null key, like the md5 twin below
    when(text.isNull, lit(null).cast("bigint"))
      .otherwise(xxhash64(lower(regexp_replace(trim(text), "\\s+", " "))))

  /** Hex MD5 over the SAME normalization as [[contentFingerprint]] —
    * interoperable with engines that lack xxhash64 (an ANSI-SQL oracle
    * can recompute it), and the cross-check that pins the normalization
    * step itself: two texts collide under the 64-bit key iff they
    * collide under this one.
    */
  def contentFingerprintMd5(text: Column): Column =
    md5(encode(lower(regexp_replace(trim(text), "\\s+", " ")), "UTF-8"))

  /** Email address shape — RE2/Java-compatible, the conventional
    * practical pattern (not RFC 5322): local part of word chars and
    * `._%+-`, a domain with at least one dot, a 2+-letter TLD.
    */
  val EmailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Count of non-overlapping matches of `pattern`; NULL text → NULL
    * (explicit — `size(NULL)` would be -1 under the legacy conf).
    */
  def matchCount(text: Column, pattern: String): Column =
    when(text.isNull, lit(null).cast("long"))
      .otherwise(size(regexp_extract_all(text, lit(pattern), lit(0))).cast("long"))

  /** PII scrubbing: apply `(pattern, replacement)` rules in order, each
    * replacing ALL matches — later rules see earlier rules' output, so
    * order the specific before the general. Pure `regexp_replace`
    * composition: codegen'd, zero shuffle, and oracle-expressible
    * (DuckDB `regexp_replace(..., 'g')`). NULL text stays NULL.
    */
  def redact(text: Column, rules: Seq[(String, String)]): Column = {
    require(rules.nonEmpty, "redact needs at least one (pattern, replacement) rule")
    rules.foldLeft(text) { case (t, (pattern, replacement)) =>
      regexp_replace(t, lit(pattern), lit(replacement))
    }
  }

  /** Distinct `patterns` occurring anywhere in `text` (substring
    * containment, case-sensitive — lowercase both sides for
    * case-insensitive screening), in declaration order. One
    * Aho–Corasick DFA pass per row regardless of pattern count — the
    * blocklist/termlist screen of a corpus pipeline ([[AhoCorasick]]
    * has the scale notes).
    */
  def multiMatch(text: Column, patterns: Seq[String]): Column = {
    import org.apache.spark.sql.{GraftBridge, MultiMatch}
    GraftBridge.column(MultiMatch(GraftBridge.expression(text), patterns))
  }

  /** Gopher's document-level stop words (Rae et al. 2021, A1.1): a doc
    * must contain at least two DISTINCT members to pass the rule. */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Leading characters that mark a bulleted line. */
  val BulletChars: Seq[String] = Seq("•", "‣", "-", "*")

  /** Gopher-style document quality rules (Rae et al. 2021, Appendix
    * A1.1), composed entirely from codegen'd builtins so the whole
    * struct evaluates in one projection over the scan — no UDF, no
    * shuffle, and every field replays in ANSI SQL for the oracle:
    *
    *  - `n_words`: whitespace tokens of the trimmed text;
    *  - `mean_word_len`: mean token length — rule: within [3, 10];
    *  - `symbol_ratio`: (count of `#` chars + `…` chars + literal
    *    `...` runs, non-overlapping left-to-right) / words — rule
    *    ≤ 0.1;
    *  - `frac_alpha`: fraction of words containing an ASCII letter —
    *    rule ≥ 0.8;
    *  - `bullet_frac` / `ellipsis_frac`: fraction of non-empty lines
    *    starting with a bullet ([[BulletChars]]) / ending with `…` or
    *    `...` — rules ≤ 0.9 and ≤ 0.3; both 0.0 when the doc has no
    *    non-empty lines (nothing to violate);
    *  - `stop_hits`: DISTINCT [[GopherStopwords]] present (lowercased
    *    exact-token match) — rule ≥ 2;
    *  - `keep`: the conjunction, with the word-count band
    *    [`minWords`, `maxWords`] (Gopher's published 50/100k; callers
    *    pass corpus-appropriate bounds). Never NULL: an empty doc
    *    fails the word-count rule.
    */
  def gopherRules(text0: Column,
                  minWords: Int = 50, maxWords: Int = 100000): Column = {
    val text = coalesce(text0, lit(""))
    // ONE single-pass kernel call (see TextKernels.gopherCounts): the
    // builtin higher-order formulation re-tokenized the document once
    // per rule because HOF lambdas sit outside codegen subexpression
    // elimination — measured 5.6 s -> 0.4 s for q_quality_rules at
    // sf0.1. The ratio arithmetic below is unchanged (the oracle
    // replays it identically).
    val k = Kernels.gopherCounts(text)
    val nWords = k.getField("n_words")
    val meanLen = when(nWords > 0,
      round(k.getField("sum_word_len").cast("double") / nWords.cast("double"), 6))
    val symbolRatio = when(nWords > 0,
      round(k.getField("n_symbols").cast("double") / nWords.cast("double"), 6))
    val fracAlpha = when(nWords > 0,
      round(k.getField("n_alpha_words").cast("double") / nWords.cast("double"), 6))
    val nLines = k.getField("n_lines")
    val bulletFrac = when(nLines > 0,
      round(k.getField("n_bullet").cast("double") / nLines.cast("double"), 6))
      .otherwise(0.0)
    val ellipsisFrac = when(nLines > 0,
      round(k.getField("n_ellipsis_lines").cast("double") / nLines.cast("double"), 6))
      .otherwise(0.0)
    val stopHits = k.getField("stop_hits")
    val keep = nWords.between(minWords, maxWords) &&
      coalesce(meanLen.between(3.0, 10.0), lit(false)) &&
      coalesce(symbolRatio <= 0.1, lit(false)) &&
      coalesce(fracAlpha >= 0.8, lit(false)) &&
      bulletFrac <= 0.9 && ellipsisFrac <= 0.3 && stopHits >= 2
    struct(
      nWords.as("n_words"),
      meanLen.as("mean_word_len"),
      symbolRatio.as("symbol_ratio"),
      fracAlpha.as("frac_alpha"),
      bulletFrac.as("bullet_frac"),
      ellipsisFrac.as("ellipsis_frac"),
      stopHits.as("stop_hits"),
      keep.as("keep"))
  }

  /** C4's page/line cleaning rules (Raffel et al. 2020 §2.2), as one
    * codegen projection:
    *
    *  - line rule: keep non-empty lines with ≥ 5 words ending in a
    *    terminal punctuation mark (`.`, `!`, `?`, closing `"` or `'`);
    *    `clean` is the kept lines rejoined with `\n` (the actual C4
    *    transform, not just a verdict);
    *  - page rules: ≥ 3 sentences (runs of `[.!?]`), no
    *    `lorem ipsum` (case-insensitive), no `{` (the code filter);
    *  - `keep` = the page-rule conjunction. Never NULL.
    */
  def c4Rules(text0: Column): Column = {
    val text = coalesce(text0, lit(""))
    // ONE single-pass kernel call — same motivation as [[gopherRules]]
    val k = Kernels.c4Counts(text)
    val keep = k.getField("n_sentences") >= 3 &&
      !k.getField("has_lorem") && !k.getField("has_brace")
    struct(
      k.getField("n_lines").as("n_lines"),
      k.getField("n_kept_lines").as("n_kept_lines"),
      k.getField("n_sentences").as("n_sentences"),
      k.getField("has_lorem").as("has_lorem"),
      k.getField("has_brace").as("has_brace"),
      keep.as("keep"),
      k.getField("clean").as("clean"))
  }

  /** Per-document repetition diagnostics (the Gopher-style quality
    * signals): token count, distinct-token ratio, and the frequency
    * share of the single most repeated token. One codegen kernel pass
    * per document (hash-map counting — the earlier higher-order-
    * function form re-scanned the token array per distinct token);
    * ratio arithmetic stays in column space so oracle SQL is unchanged.
    * Zero shuffle. Empty text yields null ratios; NULL text yields a
    * NULL struct.
    */
  def repetitionStats(text: Column): Column = {
    val k = Kernels.repetitionCounts(text)
    val n = k.getField("n_tokens")
    struct(
      n.as("n_tokens"),
      when(n > 0, round(k.getField("n_distinct").cast("double") / n, 6))
        .as("distinct_ratio"),
      when(n > 0, round(k.getField("top_count").cast("double") / n, 6))
        .as("top_token_frac"))
  }
}
