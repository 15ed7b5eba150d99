package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** RTF text extraction (round 17) — the word-processor format old
  * crawls carry alongside `.doc`: a fully public, table-free syntax
  * (the Microsoft RTF 1.9.1 spec), so unlike lossy codecs it is
  * implementable exactly in this environment.
  *
  * Surface:
  *  - group structure `{ }` with a balanced-brace requirement;
  *  - control words `\word[-]N` with the space-delimiter rule, control
  *    symbols `\{ \} \\ \~ \- \_`;
  *  - destinations: `{\*\...}` is ALWAYS skipped (the spec's
  *    ignore-unknown-destination rule), as are the known non-text
  *    destinations (fonttbl, colortbl, stylesheet, info, pict, object,
  *    header/footer variants, footnote annotations);
  *  - text: `\par`/`\line` → `\n`, `\tab` → `\t`, `\'hh` bytes through
  *    windows-1252 (the `\ansicpg` default), `\uN` unicode with the
  *    `\ucN` fallback-skip protocol (negative N + 65536 per spec),
  *    the symbol words (emdash endash bullet lquote rquote ldblquote
  *    rdblquote nbsp), and `\binN` raw-byte skips;
  *  - fail-closed: a blob not starting `{\rtf`, unbalanced groups, or
  *    a truncated `\bin` returns NULL.
  */
object RtfKernels {

  import Decode.{Bad, MaxText, Refused}

  private val MaxDepth = 256

  private val SkipDestinations: Set[String] = Set(
    "fonttbl", "colortbl", "stylesheet", "info", "pict", "object",
    "header", "footer", "headerl", "headerr", "headerf", "footerl",
    "footerr", "footerf", "footnote", "annotation", "xmlnstbl",
    "themedata", "colorschememapping", "datastore", "latentstyles",
    "listtable", "listoverridetable", "generator")

  /** Text of an RTF document, or null. */
  def rtfText(b: Array[Byte]): UTF8String = {
    if (b == null) return null
    try {
      if (b.length < 6 || b(0) != '{' || b(1) != '\\' || b(2) != 'r' ||
          b(3) != 't' || b(4) != 'f') return null
      val out = new java.lang.StringBuilder()
      var pos = 0
      var depth = 0
      // per-group state: (skipping, ucSkip) restored on group close
      var skipping = false
      var ucSkip = 1
      val stack = new java.util.ArrayDeque[(Boolean, Int)]()
      // pending \u fallback characters to swallow
      var pendingSkip = 0
      def emit(c: Char): Unit = {
        if (pendingSkip > 0) { pendingSkip -= 1; return }
        if (!skipping) {
          if (out.length() >= MaxText) throw Bad
          out.append(c)
        }
      }
      while (pos < b.length) {
        val c = b(pos) & 0xff
        c match {
          case '{' =>
            if (depth >= MaxDepth) throw Bad
            stack.push((skipping, ucSkip))
            depth += 1
            pendingSkip = 0
            pos += 1
            // the ignore-unknown-destination form: {\* ... }
            if (pos + 1 < b.length && b(pos) == '\\' && b(pos + 1) == '*') {
              skipping = true
              pos += 2
            }
          case '}' =>
            if (depth == 0) throw Bad
            depth -= 1
            val st = stack.pop()
            skipping = st._1
            ucSkip = st._2
            pendingSkip = 0
            pos += 1
            if (depth == 0) {
              // trailing whitespace after the final brace is tolerated
              var p = pos
              while (p < b.length) {
                val t = b(p) & 0xff
                if (t != '\r' && t != '\n' && t != ' ' && t != '\t' &&
                    t != 0) throw Bad
                p += 1
              }
              pos = b.length
            }
          case '\\' =>
            if (pos + 1 >= b.length) throw Bad
            val n = b(pos + 1) & 0xff
            n match {
              case '{' | '}' | '\\' => emit(n.toChar); pos += 2
              case '~' => emit(' '); pos += 2
              case '-' | '_' => pos += 2 // optional / non-breaking hyphen
              case '*' => skipping = true; pos += 2 // bare \* (rare)
              case '\'' =>
                if (pos + 3 >= b.length) throw Bad
                val hi = Character.digit(b(pos + 2), 16)
                val lo = Character.digit(b(pos + 3), 16)
                if (hi < 0 || lo < 0) throw Bad
                emit(XlsKernels.Cp1252.table((hi << 4) | lo))
                pos += 4
              case '\r' | '\n' => emit('\n'); pos += 2 // escaped newline = \par
              case _ if (n >= 'a' && n <= 'z') || (n >= 'A' && n <= 'Z') =>
                // control word: letters, optional signed number,
                // one trailing space is part of the control word
                var p = pos + 1
                val ws = p
                while (p < b.length &&
                       ((b(p) >= 'a' && b(p) <= 'z') ||
                        (b(p) >= 'A' && b(p) <= 'Z'))) p += 1
                val word = new String(b, ws, p - ws, "US-ASCII")
                var neg = false
                var num = 0L
                var hasNum = false
                if (p < b.length && b(p) == '-') { neg = true; p += 1 }
                while (p < b.length && b(p) >= '0' && b(p) <= '9') {
                  num = num * 10 + (b(p) - '0')
                  if (num > Int.MaxValue) throw Bad
                  hasNum = true
                  p += 1
                }
                if (p < b.length && b(p) == ' ') p += 1
                val arg = if (neg) -num else num
                word match {
                  case "par" | "line" | "sect" | "page" => emit('\n')
                  case "cell" | "row" => emit('\n')
                  case "tab" => emit('\t')
                  case "emdash" => emit('—')
                  case "endash" => emit('–')
                  case "bullet" => emit('•')
                  case "lquote" => emit('‘')
                  case "rquote" => emit('’')
                  case "ldblquote" => emit('“')
                  case "rdblquote" => emit('”')
                  case "uc" => ucSkip = math.max(0, arg.toInt)
                  case "u" =>
                    val cp = (if (arg < 0) arg + 65536 else arg).toInt
                    if (cp < 0 || cp > 0xFFFF) throw Bad
                    emit(cp.toChar)
                    if (!skipping) pendingSkip = ucSkip
                  case "bin" =>
                    if (!hasNum || arg < 0 || p + arg > b.length) throw Bad
                    p += arg.toInt
                  case d if SkipDestinations.contains(d) => skipping = true
                  case _ => () // unknown formatting word: ignored
                }
                pos = p
              case _ => throw Bad // unknown control symbol
            }
          case '\r' | '\n' | 0 => pos += 1 // raw newlines are ignored
          case _ =>
            emit(XlsKernels.Cp1252.table(c)) // raw bytes read as cp1252
            pos += 1
        }
      }
      if (depth != 0) throw Bad
      UTF8String.fromString(out.toString)
    } catch { case Refused() => null }
  }
}
