package graft.textkit

import java.util.regex.{Matcher, Pattern}

/** Python-semantics compatibility helpers.
  *
  * The reference engine (/root/reference) is CPython; its ~40 text transforms
  * rely on CPython string/regex semantics. Byte-identical output requires
  * mirroring those semantics exactly on the JVM:
  *   - `\w`/`\b` with re.UNICODE  -> Pattern.UNICODE_CHARACTER_CLASS
  *   - str.split() (no sep)       -> split on runs of whitespace, drop empties
  *   - str.strip()                -> java String.strip (unicode whitespace)
  *   - str.isalpha/isdigit/isalnum -> per-char Character checks
  *   - re.match                   -> Matcher.lookingAt (anchored at start)
  *   - str.splitlines()           -> \n split without trailing empty element
  */
object Py {
  /** Compile with Python re.UNICODE-equivalent semantics. */
  def re(pattern: String, flags: Int = 0): Pattern =
    Pattern.compile(pattern, flags | Pattern.UNICODE_CHARACTER_CLASS)

  def reI(pattern: String): Pattern =
    re(pattern, Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE)

  // ASCII \s of the former `s.split("\\s+")` (String.split compiled the
  // pattern per call — a measured hot spot in the cell-clean chain)
  private[textkit] def isSplitWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Python str.split() with no argument. Hand-rolled scanner — identical
    * output to `s.split("\\s+").filter(_.nonEmpty)` without the per-call
    * Pattern.compile + intermediate array. */
  def split(s: String): Array[String] = {
    val n = s.length
    val out = Array.newBuilder[String]
    var i = 0
    while (i < n) {
      while (i < n && isSplitWs(s.charAt(i))) i += 1
      val start = i
      while (i < n && !isSplitWs(s.charAt(i))) i += 1
      if (i > start) out += s.substring(start, i)
    }
    out.result()
  }

  /** Python `" ".join(s.split())`. Fast path: a string already in canonical
    * form (no leading/trailing separator, single ' ' between tokens) is
    * returned unchanged without allocating the token array. */
  def joinSplit(s: String): String = {
    val n = s.length
    var i = 0
    var canonical = n == 0 || !isSplitWs(s.charAt(0))
    var prevWs = false
    while (canonical && i < n) {
      val ws = isSplitWs(s.charAt(i))
      if (ws && (prevWs || s.charAt(i) != ' ')) canonical = false
      prevWs = ws
      i += 1
    }
    if (canonical && prevWs) canonical = false // trailing separator
    if (canonical) s else split(s).mkString(" ")
  }

  /** Python str.strip(chars): strip any leading/trailing chars in set. */
  def stripChars(s: String, chars: String): String = {
    var i = 0
    var j = s.length
    while (i < j && chars.indexOf(s.charAt(i)) >= 0) i += 1
    while (j > i && chars.indexOf(s.charAt(j - 1)) >= 0) j -= 1
    s.substring(i, j)
  }

  /** Python str.lstrip(chars). */
  def lstripChars(s: String, chars: String): String = {
    var i = 0
    while (i < s.length && chars.indexOf(s.charAt(i)) >= 0) i += 1
    s.substring(i)
  }

  // Exact per-char forms of the UNICODE_CHARACTER_CLASS classes, for the
  // scanners that stand in for regex steps (java.util.regex.CharPredicates).

  /** `\s`: the White_Space property (Zs, Zl, Zp, U+0009..U+000D, U+0085).
    * Unlike Character.isWhitespace it holds for U+00A0, U+2007 and U+202F
    * and not for U+001C..U+001F. No supplementary char is White_Space. */
  def isUniWs(c: Char): Boolean =
    (c >= '\t' && c <= '\r') || c == ' ' || c == '\u0085' || (c > '\u0085' && {
      val t = Character.getType(c)
      t == Character.SPACE_SEPARATOR || t == Character.LINE_SEPARATOR ||
        t == Character.PARAGRAPH_SEPARATOR
    })

  /** `\w` of one code point. */
  def isUniWord(cp: Int): Boolean =
    Character.isAlphabetic(cp) || cp == 0x200C || cp == 0x200D || {
      val t = Character.getType(cp)
      t == Character.NON_SPACING_MARK || t == Character.ENCLOSING_MARK ||
        t == Character.COMBINING_SPACING_MARK || t == Character.DECIMAL_DIGIT_NUMBER ||
        t == Character.CONNECTOR_PUNCTUATION
    }

  /** `\d` at index i (a whole code point, as a forward match reads it). */
  def isUniDigitAt(s: String, i: Int): Boolean =
    i < s.length && Character.isDigit(s.codePointAt(i))

  /** `\w` of the code point ending at index i (false at i == 0). */
  def isUniWordBefore(s: String, i: Int): Boolean =
    i > 0 && isUniWord(s.codePointBefore(i))

  /** `\w` of the code point starting at index i (false at the end). */
  def isUniWordAt(s: String, i: Int): Boolean =
    i < s.length && isUniWord(s.codePointAt(i))

  /** First index where `\bword\b` matches in s, or -1, for a word of `\w`
    * chars: an indexOf scan with the two boundary checks instead of a regex
    * search. */
  def indexOfWordToken(s: String, word: String): Int = {
    var p = s.indexOf(word)
    while (p >= 0) {
      if (!isUniWordBefore(s, p) && !isUniWordAt(s, p + word.length)) return p
      p = s.indexOf(word, p + 1)
    }
    -1
  }

  /** Number of maximal non-`\s` runs: a pattern `^t1\s+t2 .. \s+tk$` of
    * non-`\s` tokens needs exactly k (`$` may precede one final line
    * terminator, and every line terminator is `\s`). */
  def wsTokens(s: String): Int = {
    val n = s.length
    var tokens = 0
    var inTok = false
    var i = 0
    while (i < n) {
      val ws = isUniWs(s.charAt(i))
      if (!ws && !inTok) tokens += 1
      inTok = !ws
      i += 1
    }
    tokens
  }

  /** `s.split(Pattern.quote(sep), -1)` without compiling the pattern. */
  def splitLiteral(s: String, sep: String): Array[String] = {
    if (sep.isEmpty) return s.split(Pattern.quote(sep), -1)
    var p = s.indexOf(sep)
    if (p < 0) return Array(s)
    val out = Array.newBuilder[String]
    var last = 0
    while (p >= 0) {
      out += s.substring(last, p)
      last = p + sep.length
      p = s.indexOf(sep, last)
    }
    out += s.substring(last)
    out.result()
  }

  def isAlphaStr(s: String): Boolean = s.nonEmpty && s.forall(Character.isLetter)
  def isDigitStr(s: String): Boolean = s.nonEmpty && s.forall(Character.isDigit)
  def isAlnumStr(s: String): Boolean = s.nonEmpty && s.forall(Character.isLetterOrDigit)
  def isSpaceStr(s: String): Boolean = s.nonEmpty && s.forall(Character.isWhitespace)

  /** By code point, so it agrees with `\d` under UNICODE_CHARACTER_CLASS,
    * which also matches supplementary-plane digits (U+1D7CF and friends). */
  def anyDigit(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (Character.isDigit(cp)) return true
      i += Character.charCount(cp)
    }
    false
  }
  def anyAlpha(s: String): Boolean = s.exists(Character.isLetter)

  /** Python re.search -> Option of the Matcher positioned at the first hit. */
  def search(p: Pattern, s: String): Option[Matcher] = {
    val m = p.matcher(s)
    if (m.find()) Some(m) else None
  }

  def hasMatch(p: Pattern, s: String): Boolean = p.matcher(s).find()

  /** Python re.match (anchored at start, not necessarily full). */
  def matchAt(p: Pattern, s: String): Option[Matcher] = {
    val m = p.matcher(s)
    if (m.lookingAt()) Some(m) else None
  }

  /** Python re.fullmatch. */
  def fullMatch(p: Pattern, s: String): Boolean = p.matcher(s).matches()

  /** Python re.findall returning group(0) of each match. */
  def findAll(p: Pattern, s: String): List[String] = {
    val m = p.matcher(s)
    val out = List.newBuilder[String]
    while (m.find()) out += m.group()
    out.result()
  }

  /** Python re.findall when the pattern has exactly one group. */
  def findAllGroup1(p: Pattern, s: String): List[String] = {
    val m = p.matcher(s)
    val out = List.newBuilder[String]
    while (m.find()) out += m.group(1)
    out.result()
  }

  /** Python pat.finditer -> (start, group0) pairs. */
  def findIter(p: Pattern, s: String): List[(Int, String)] = {
    val m = p.matcher(s)
    val out = List.newBuilder[(Int, String)]
    while (m.find()) out += ((m.start, m.group()))
    out.result()
  }

  /** Python pat.sub(repl, s) with a literal-ish replacement ($1-style refs ok). */
  def sub(p: Pattern, repl: String, s: String): String =
    p.matcher(s).replaceAll(repl)

  /** Python pat.sub with a function replacement. */
  def subFn(p: Pattern, s: String)(fn: Matcher => String): String = {
    val m = p.matcher(s)
    val sb = new java.lang.StringBuilder
    while (m.find()) m.appendReplacement(sb, Matcher.quoteReplacement(fn(m)))
    m.appendTail(sb)
    sb.toString
  }

  /** Python str.splitlines() restricted to \n (corpus uses \n only). */
  def splitLines(s: String): Array[String] = {
    if (s.isEmpty) return Array.empty
    val parts = s.split("\n", -1)
    if (s.endsWith("\n")) parts.dropRight(1) else parts
  }

  /** Python statistics.median: sorts; even count -> mean of the middle two. */
  def median(values: Seq[Double]): Double = {
    val sorted = values.sorted
    val n = sorted.length
    require(n > 0, "median of empty seq")
    if (n % 2 == 1) sorted(n / 2)
    else (sorted(n / 2 - 1) + sorted(n / 2)) / 2.0
  }
}
