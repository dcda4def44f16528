package graft.textkit

import graft.extract.MarkdownRender
import graft.model._
import java.util.Locale
import Py._
import TextNormalize.{normalizeLigatures, normalizeMojibakeText}

// Frozen copies of the cell-clean chain, the table and picture passes and
// the markdown post passes as they stood before their regex steps were
// replaced by exact guards and scanners. TransformOracleSpec runs the
// current passes against these on generated input; they are test code only
// and must not be changed to follow the engine. They call the shared
// helpers (Py, TextNormalize, KpiAxis, Whitespace) that the rewrite left
// as they were; Numbers.digitsOnly, which it did change, is copied here, and
// so is KpiAxis.axisLike, which the engine replaced by
// MarkdownPost.isAxisLikeLine.

object OracleCellClean {
  private val NonDigit = re("\\D")
  def digitsOnly(value: String): String = sub(NonDigit, "", value)
  private val DatePattern = re("\\d{1,2}[./-]\\d{1,2}[./-]\\d{2,4}")
  private val DateFuzzyPattern = re("\\d{1,3}[./-]\\d{1,2}[./-]\\d{2,4}")
  private val DateSepPattern = re("[./-]")
  private val DupPercent = re("\\b(\\d+(?:[.,]\\d+)?)\\s*%\\s+\\1\\s*%")
  private val SpacedPercent = re("\\b(\\d+(?:[.,]\\d+)?)\\s*%")
  private val DupGroup = re("\\b(\\d{1,3})\\s+\\1((?:\\.\\d{3}){1,})\\b")
  private val LeadingGroup = re("\\b(\\d{1,2})\\s+(\\d{3}(?:\\.\\d{3}){1,})\\b")
  private val DeltaPercent = re("^(?:ƒ\\^\\+%|∆\\s*%|Δ\\s*%)$")
  private val CurrencyPrefixDup = re("^(\\d{1,3}(?:[.,]\\d{1,3})?[.,]?)\\s+(RON|EUR)\\s+(\\d{1,3}(?:\\.\\d{3}){1,})$")
  private val CurrencySuffix = re("^(\\d{1,3}(?:\\.\\d{3}){1,}(?:[.,]\\d+)?)\\s+(RON|EUR)$")
  private val CurrencyMissingR = re("^(\\d{1,3}(?:\\.\\d{3}){1,}(?:[.,]\\d+)?)\\s+ON$")
  private val CurrencyRepeatPrefix = re("^(RON|EUR)\\s+(\\d{1,3}(?:\\.\\d{3}){1,}(?:[.,]\\d+)?)\\s+\\1\\s+\\2$")
  private val CurrencyRepeatSuffix = re("^(\\d{1,3}(?:\\.\\d{3}){1,}(?:[.,]\\d+)?)\\s+(RON|EUR)\\s+\\1\\s+\\2$")
  private val CurrencyExtraPrefix = re("^(\\d{1,3})\\s+(RON|EUR)\\s+(\\d{1,3}(?:\\.\\d{3}){1,}(?:[.,]\\d+)?)\\s+\\2$")
  private val CurrencyOnMiddle = re("^(\\d{1,3}(?:[.,]\\d+)?)\\s+ON\\s+(\\d{1,3}(?:\\.\\d{3}){1,}(?:[.,]\\d+)?)\\s+(RON|EUR)$")
  private val CurrencyPrefixOnly = re("^(\\d{1,2})\\s+(RON|EUR)\\s+(\\d{1,3}(?:\\.\\d{3}){1,}(?:[.,]\\d+)?)$")
  private val CurrencyRoToken = re("\\bRO\\b")
  val CurrencyToken = re("\\b(RON|EUR)\\b")
  private val NumberToken = re("[+-]?\\(?[.,]?\\d[\\d.,]*\\)?")
  private val CurrencyTrailingShort = re("^(\\d{1,3}(?:\\.\\d{3}){1,})\\s+(RON|EUR)\\s+(\\d{1,2})$")
  private val ParensSpaceOpen = re("\\(\\s+(?=\\d)")
  private val ParensSpaceClose = re("(?<=\\d)\\s+\\)")
  private val NegativeSpace = re("(?<!\\w)-\\s+(?=\\d)")
  private val NumericishFull = re("[0-9\\s.,()%+A-Z-]+")
  private val DigitsOnlyAllPattern = re("[\\d\\s./-]+")

  /** table_fixes.py:59-60 */
  def isNumericish(text: String): Boolean = {
    // ASCII fast path: for pure-ASCII input the uppercase+regex decision
    // reduces to a per-char class check (uppercasing ASCII stays ASCII, and
    // \s under UNICODE_CHARACTER_CLASS intersected with ASCII is exactly
    // {\t \n  \f \r ' '}); any non-ASCII char falls back to the regex
    val n = text.length
    var i = 0
    var ok = n > 0
    while (ok && i < n) {
      val c = text.charAt(i)
      if (c >= 128) {
        return fullMatch(NumericishFull, text.toUpperCase(java.util.Locale.ROOT))
      }
      ok = (c >= '0' && c <= '9') || (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
        c == '.' || c == ',' || c == '(' || c == ')' || c == '%' || c == '+' ||
        c == '-' || c == ' ' || c == '\t' || c == '\n' || c == '\u000B' ||
        c == '\f' || c == '\r'
      i += 1
    }
    ok
  }

  /** table_fixes.py:138-154 */
  def stripTrailingCurrencyFragment(text: String): String = {
    // tokens.last ends with the last non-space char; {R,E,N,ON} all end in
    // R/E/N, so anything else exits before tokenizing
    var k = text.length - 1
    while (k >= 0 && text.charAt(k) <= ' ') k -= 1
    if (k < 0) return text
    val lc = text.charAt(k)
    if (lc != 'R' && lc != 'E' && lc != 'N') return text
    val tokens = split(text)
    if (tokens.length < 3) return text
    val lastTok = tokens.last
    if (!Set("R", "E", "N", "ON").contains(lastTok)) return text
    if (lastTok == "ON") {
      if (!tokens.contains("RON")) return text
      if (digitsOnly(tokens(tokens.length - 2)).isEmpty) return text
      return tokens.dropRight(1).mkString(" ")
    }
    if (!tokens.contains("RON") && !tokens.contains("EUR")) return text
    if (digitsOnly(tokens(tokens.length - 2)).isEmpty) return text
    tokens.dropRight(1).mkString(" ")
  }

  // the anchored currency patterns all require a literal RON or EUR; a cell
  // with neither an 'R' nor an 'E' cannot match any of them
  private def hasCurrencyLetter(text: String): Boolean =
    text.indexOf('R') >= 0 || text.indexOf('E') >= 0

  /** table_fixes.py:157-165 */
  def stripCurrencyPrefixDup(text: String): String =
    if (!hasCurrencyLetter(text)) text
    else matchAt(CurrencyPrefixDup, text) match {
      case Some(m) if m.end == text.length =>
        val prefix = digitsOnly(m.group(1))
        val value = digitsOnly(m.group(3))
        if (prefix.nonEmpty && value.startsWith(prefix)) s"${m.group(2)} ${m.group(3)}" else text
      case _ => text
    }

  /** table_fixes.py:168-172 */
  def stripCurrencyTrailingShortToken(text: String): String =
    if (!hasCurrencyLetter(text)) text
    else matchAt(CurrencyTrailingShort, text) match {
      case Some(m) => s"${m.group(2)} ${m.group(1)}"
      case None => text
    }

  /** table_fixes.py:175-185 */
  def stripDuplicateCurrencySuffix(text: String): String = {
    if (!hasCurrencyLetter(text)) return text
    val tokens = split(text)
    if (tokens.length < 3) return text
    if (tokens(0) != "RON" && tokens(0) != "EUR") return text
    if (tokens.last != tokens(0)) return text
    if (!anyDigit(tokens(1))) return text
    tokens.dropRight(1).mkString(" ")
  }

  private val DigitSpDigit = re("(?<=\\d)\\s+(?=\\d)")
  private val DigitSpPunct = re("(?<=\\d)\\s+(?=[.,])")
  private val PunctSpDigit = re("(?<=[.,])\\s+(?=\\d)")
  private val MultiWs = re("\\s{2,}")
  /** table_fixes.py:188-195 */
  def compactNumberSpacing(text: String): String = {
    if (!isNumericish(text)) return text
    // every sub needs a \s and strip only removes edge whitespace: a
    // whitespace-free string is unchanged. isWhitespace || isSpaceChar
    // covers the Unicode White_Space set the regexes' \s uses EXCEPT
    // U+0085 (NEL, category Cc) — include it explicitly
    if (!text.exists(c => Character.isWhitespace(c) || Character.isSpaceChar(c) ||
        c == '\u0085'))
      return text
    var compacted = sub(DigitSpDigit, "", text)
    compacted = sub(DigitSpPunct, "", compacted)
    compacted = sub(PunctSpDigit, "", compacted)
    compacted = sub(MultiWs, " ", compacted)
    compacted.strip()
  }

  /** table_fixes.py:198-202 */
  def normalizeCurrencySuffix(text: String): String =
    if (!hasCurrencyLetter(text)) text
    else matchAt(CurrencySuffix, text) match {
      case Some(m) => s"${m.group(2)} ${m.group(1)}"
      case None => text
    }

  /** table_fixes.py:205-211 */
  def fixMissingCurrencyLetter(text: String): String =
    // both branches need a literal "ON" or "RO" — no 'O', no match
    if (text.indexOf('O') < 0) text
    else matchAt(CurrencyMissingR, text) match {
      case Some(m) => s"RON ${m.group(1)}"
      case None =>
        if (isNumericish(text) && hasMatch(CurrencyRoToken, text) && !text.contains("RON"))
          sub(CurrencyRoToken, "RON", text)
        else text
    }

  /** table_fixes.py:214-236 */
  def dedupeRepeatedCurrencyValue(text: String): String = {
    if (!hasCurrencyLetter(text)) return text
    matchAt(CurrencyRepeatPrefix, text).foreach { m =>
      return s"${m.group(1)} ${m.group(2)}"
    }
    matchAt(CurrencyRepeatSuffix, text).foreach { m =>
      return s"${m.group(2)} ${m.group(1)}"
    }
    matchAt(CurrencyExtraPrefix, text).foreach { m =>
      return s"${m.group(2)} ${m.group(3)}"
    }
    matchAt(CurrencyOnMiddle, text).foreach { m =>
      val prefixDigits = digitsOnly(m.group(1))
      val valueDigits = digitsOnly(m.group(2))
      if (prefixDigits.nonEmpty && valueDigits.startsWith(prefixDigits))
        return s"${m.group(3)} ${m.group(2)}"
    }
    matchAt(CurrencyPrefixOnly, text).foreach { m =>
      val prefixDigits = digitsOnly(m.group(1))
      val valueDigits = digitsOnly(m.group(3))
      if (prefixDigits.nonEmpty && !valueDigits.startsWith(prefixDigits))
        return s"${m.group(2)} ${m.group(3)}"
    }
    text
  }

  /** table_fixes.py:239-253 — keep 4-digit-year longest date. */
  def dedupeDatesInCell(text: String): String = {
    if (!anyDigit(text)) return text // a date match needs digits
    val dates = findAll(DatePattern, text)
    if (dates.length < 2) return text
    if (anyAlpha(text)) return text
    val scored = dates.map { date =>
      val parts = DateSepPattern.split(date, -1)
      val yearLen = if (parts.nonEmpty) parts.last.length else 0
      (yearLen, date.length, date)
    }
    // Python tuple sort: lexicographic on (year_len, len, text).
    val sorted = scored.sortBy(identity)(Ordering.Tuple3(Ordering.Int, Ordering.Int, Ordering.String))
    sorted.last._3
  }

  /** table_fixes.py:424-442 — ranked date choice. */
  def chooseDateMatch(matches: List[(Int, String)]): String = {
    var candidates = matches.map { case (startIdx, dateText) =>
      val parts = DateSepPattern.split(dateText, -1)
      val yearLen = if (parts.nonEmpty) parts.last.length else 0
      val dayLen = if (parts.nonEmpty) parts.head.length else 0
      (startIdx, yearLen, dayLen, dateText)
    }
    val preferred = candidates.filter(_._2 == 4)
    if (preferred.nonEmpty) candidates = preferred
    val dayPreferred = candidates.filter(_._3 == 2)
    if (dayPreferred.nonEmpty) candidates = dayPreferred
    candidates.sortBy(_._1).last._4
  }

  /** table_fixes.py:445-447 — overlapping matches via lookahead wrapper. */
  def overlappingDateMatches(pattern: java.util.regex.Pattern, text: String): List[(Int, String)] = {
    val wrapped = re(s"(?=(${pattern.pattern}))")
    val m = wrapped.matcher(text)
    val out = List.newBuilder[(Int, String)]
    // java.util.regex advances past zero-width matches automatically,
    // matching CPython finditer-over-lookahead behavior.
    while (m.find()) out += ((m.start, m.group(1)))
    out.result()
  }

  /** table_fixes.py:450-463 */
  def repairFuzzyDate(dateText: String): String = {
    search(DateSepPattern, dateText) match {
      case None => dateText
      case Some(sepM) =>
        val sep = sepM.group()
        val parts = DateSepPattern.split(dateText, -1)
        if (parts.length != 3) return dateText
        var day = parts(0); var month = parts(1); val year = parts(2)
        if (day.length > 2) day = day.takeRight(2)
        if (month.length > 2) month = month.takeRight(2)
        List(day, month, year).mkString(sep)
    }
  }

  /** table_fixes.py:466-507 — header-cleaning chain. */
  def cleanHeaderText(text: String): String = {
    if (text == null || text.isEmpty) return text
    var normalized = normalizeLigatures(normalizeMojibakeText(text))
    normalized = joinSplit(normalized)
    if (fullMatch(DeltaPercent, normalized)) return "Δ%"
    val dateMatches = findIter(DatePattern, normalized)
    var chosenYearLen = 0
    if (dateMatches.nonEmpty) {
      val chosen = chooseDateMatch(dateMatches)
      chosenYearLen = DateSepPattern.split(chosen, -1).last.length
      val hasFullYear = dateMatches.exists { case (_, d) =>
        DateSepPattern.split(d, -1).last.length == 4
      }
      if (dateMatches.length > 1 && (hasFullYear || chosenYearLen == 4)) return chosen
      if (normalized != chosen && fullMatch(DigitsOnlyAllPattern, normalized) && chosenYearLen == 4)
        return chosen
    }
    if (chosenYearLen < 4 &&
        normalized.count(_ == '/') + normalized.count(_ == '.') + normalized.count(_ == '-') > 2) {
      val fuzzyMatches = overlappingDateMatches(DateFuzzyPattern, normalized)
      if (fuzzyMatches.nonEmpty) {
        val fuzzyChosen = chooseDateMatch(fuzzyMatches)
        val repaired = repairFuzzyDate(fuzzyChosen)
        if (normalized != repaired && fullMatch(DigitsOnlyAllPattern, normalized))
          return repaired
      }
    }
    val words = split(normalized)
    if (words.length % 2 == 0 && words.nonEmpty) {
      val mid = words.length / 2
      if (words.take(mid).sameElements(words.drop(mid))) return words.take(mid).mkString(" ")
    }
    normalized
  }

  /** table_fixes.py:510-515 */
  private def mergeLeadingGroup(m: java.util.regex.Matcher): String = {
    val lead = m.group(1)
    val tail = m.group(2)
    if (tail.count(_ == '.') >= 2) tail else s"$lead.$tail"
  }

  /** table_fixes.py:518-545 — the 15-step cell-cleaning chain (order matters). */
  def cleanTableCellText(text: String): String = {
    if (text == null || text.isEmpty) return text
    var cleaned = normalizeMojibakeText(text)
    cleaned = normalizeLigatures(cleaned).strip()
    // guards (round 6): each regex step runs only when the characters its
    // pattern literally requires are present — provably identical output,
    // and a typical already-clean cell skips most of the chain
    if (cleaned.nonEmpty) {
      val c0 = cleaned.charAt(0)
      if ((c0 == 'ƒ' || c0 == '∆' || c0 == 'Δ') && fullMatch(DeltaPercent, cleaned))
        return "Δ%"
    }
    if (cleaned.indexOf('%') >= 0) {
      cleaned = sub(DupPercent, "$1%", cleaned)
      cleaned = sub(SpacedPercent, "$1%", cleaned)
    }
    if (cleaned.indexOf('-') >= 0) cleaned = sub(NegativeSpace, "-", cleaned)
    if (cleaned.indexOf('.') >= 0 && anyDigit(cleaned)) {
      cleaned = sub(DupGroup, "$1$2", cleaned)
      cleaned = subFn(LeadingGroup, cleaned)(mergeLeadingGroup)
    }
    cleaned = joinSplit(cleaned)
    if (anyDigit(cleaned)) cleaned = stripChars(cleaned, "[]")
    cleaned = compactNumberSpacing(cleaned)
    if ((cleaned.indexOf('(') >= 0 || cleaned.indexOf(')') >= 0) && isNumericish(cleaned)) {
      cleaned = sub(ParensSpaceOpen, "(", cleaned)
      cleaned = sub(ParensSpaceClose, ")", cleaned)
    }
    cleaned = normalizeCurrencySuffix(cleaned)
    cleaned = fixMissingCurrencyLetter(cleaned)
    cleaned = stripCurrencyTrailingShortToken(cleaned)
    cleaned = dedupeDatesInCell(cleaned)
    cleaned = stripTrailingCurrencyFragment(cleaned)
    cleaned = stripCurrencyPrefixDup(cleaned)
    cleaned = stripDuplicateCurrencySuffix(cleaned)
    cleaned = dedupeRepeatedCurrencyValue(cleaned)
    cleaned
  }


}

object OracleMarkdownPost {
  val PageBreakPlaceholder = "<!-- page break -->"

  private val HtmlPageMarker = "<!--\\s*page:\\s*(\\d+)\\s*-->"
  private val MdPageMarker = "\\[//\\]:\\s*#\\s*\\(\\s*page:\\s*(\\d+)\\s*\\)"
  private val VisiblePageMarker = "\\*\\*\\s*\\[page(?::)?\\s*\\d+\\]\\s*\\*\\*"
  private val PageMarkerPattern = reI(s"(?:$HtmlPageMarker|$MdPageMarker|$VisiblePageMarker)")
  private val ImagePlaceholderPattern = re("^\\s*<!--\\s*image\\s*-->\\s*$")
  private val HeadingPattern = re("^(#{1,6})\\s+(.+?)\\s*$")
  private val KpiUnitPattern = reI("\\b(?:RON|EUR|USD|LEI|MIL\\.?)\\b")
  private val KpiValueHintPattern = reI("\\bvs\\b|%|\\d")
  private val AxisAllowedPattern = re("^[0-9A-Za-z%./+\\-\\s]+$")
  private val AxisTokenPattern = reI("^(?:\\d{1,4}(?:[.,]\\d+)?%?|[12]\\d{3}|Q[1-4]|9L|L9|mil|mil\\.|RON|EUR|USD|LEI)$")
  private val AxisWordToken = re("[A-Za-z0-9%]+")
  private val BlockSplit = re("\\n{2,}")

  /** replaceAll(PageMarkerPattern, "") without running the alternation at
    * every position: a marker can only start at "<!--", "[//]" or "**", so
    * scan for those literals and try the regex only there (round 6 — this
    * pass ran the case-insensitive alternation over the whole document). */
  private def stripPageMarkers(markdown: String): String = {
    val n = markdown.length
    var sb: java.lang.StringBuilder = null
    var last = 0
    var i = 0
    val m = PageMarkerPattern.matcher(markdown)
    while (i < n) {
      val c = markdown.charAt(i)
      val candidate =
        (c == '<' && markdown.startsWith("<!--", i)) ||
          (c == '[' && markdown.startsWith("[//]", i)) ||
          (c == '*' && i + 1 < n && markdown.charAt(i + 1) == '*')
      if (candidate) {
        m.region(i, n)
        if (m.lookingAt()) {
          if (sb == null) sb = new java.lang.StringBuilder(n)
          sb.append(markdown, last, i)
          last = m.end
          i = m.end
        } else i += 1
      } else i += 1
    }
    if (sb == null) markdown
    else { sb.append(markdown, last, n); sb.toString }
  }

  private def normalizeHeading(text: String): String =
    joinSplit(text).toLowerCase(Locale.ROOT)

  /** export_utils.py:44-61 */
  def addVisiblePageMarkers(markdown: String, placeholder: String = PageBreakPlaceholder): String = {
    val stripped = stripPageMarkers(markdown)
    if (!stripped.contains(placeholder)) {
      if (stripped.strip().isEmpty) return stripped
      return s"**[Page 1]**\n\n${stripped.strip()}"
    }
    val parts = stripped.split(java.util.regex.Pattern.quote(placeholder), -1).map(_.strip())
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pageNo = 1
    for (part <- parts if part.nonEmpty) {
      out += s"**[Page $pageNo]**\n\n$part"
      pageNo += 1
    }
    out.mkString(s"\n\n$placeholder\n\n")
  }

  /** export_utils.py:88-166 — repeated first-of-page heading removal. */
  def reduceMarkdownNoise(markdown: String, placeholder: String = PageBreakPlaceholder,
                          removeImagePlaceholders: Boolean = false,
                          repeatedHeadingRatio: Double = 0.3,
                          minRepeatedHeadingCount: Int = 3): String = {
    if (markdown.strip().isEmpty) return markdown
    val hasBreaks = markdown.contains(placeholder)
    val rawParts: Array[String] =
      if (hasBreaks) markdown.split(java.util.regex.Pattern.quote(placeholder), -1)
      else Array(markdown)

    val firstHeadings: Array[Option[String]] = rawParts.map { part =>
      var heading: Option[String] = None
      var done = false
      for (line <- splitLines(part) if !done) {
        val s = line.strip()
        if (s.nonEmpty && !maybeImagePlaceholder(s) && !maybePageMarker(s)) {
          heading = headingMatch(s).map(_.group(2))
          done = true
        }
      }
      heading
    }

    val totalPages = rawParts.length
    val frequent: Set[String] =
      if (totalPages <= 1) Set.empty
      else {
        val counts = scala.collection.mutable.Map.empty[String, Int]
        for (h <- firstHeadings.flatten) {
          val k = normalizeHeading(h)
          counts(k) = counts.getOrElse(k, 0) + 1
        }
        val threshold = math.max(minRepeatedHeadingCount,
          (totalPages * repeatedHeadingRatio + 0.999).toInt)
        counts.filter(_._2 >= threshold).keySet.toSet
      }

    val keptOnce = scala.collection.mutable.Set.empty[String]
    val cleanedParts = rawParts.zip(firstHeadings).map { case (part, headingOpt) =>
      val headingKey = headingOpt.map(normalizeHeading)
      val linesOut = scala.collection.mutable.ArrayBuffer.empty[String]
      var removedHeading = false
      for (line <- splitLines(part)) {
        val s = line.strip()
        var emit = true
        if (removeImagePlaceholders && maybeImagePlaceholder(s)) emit = false
        else if (!removedHeading && headingOpt.nonEmpty && headingKey.exists(frequent.contains) &&
                 s.nonEmpty) {
          headingMatch(s) match {
            case Some(m) if normalizeHeading(m.group(2)) == headingKey.get =>
              if (keptOnce.contains(headingKey.get)) { removedHeading = true; emit = false }
              else keptOnce += headingKey.get
            case _ =>
          }
        }
        if (emit) linesOut += line
      }
      linesOut.mkString("\n")
    }

    if (!hasBreaks) cleanedParts(0)
    else cleanedParts.mkString(s"\n\n$placeholder\n\n")
  }

  private def lookingAt(p: java.util.regex.Pattern, s: String): Boolean =
    p.matcher(s).lookingAt()
  private def fullMatchLookingAt(p: java.util.regex.Pattern, s: String): Boolean =
    p.matcher(s).lookingAt()

  // first-char guards (round 6): every alternative of PageMarkerPattern
  // starts with a literal '<', '[' or '*'; ImagePlaceholderPattern starts
  // with \s* then '<' (c < '!' / c > '~' conservatively covers every
  // possible \s char); HeadingPattern starts with a literal '#'. A plain
  // text line skips all three regexes on one char compare.
  private def maybePageMarker(s: String): Boolean = {
    if (s.isEmpty) return false
    val c = s.charAt(0)
    (c == '<' || c == '[' || c == '*') && lookingAt(PageMarkerPattern, s)
  }
  private def maybeImagePlaceholder(s: String): Boolean = {
    if (s.isEmpty) return false
    val c = s.charAt(0)
    (c == '<' || c < '!' || c > '~') && fullMatchLookingAt(ImagePlaceholderPattern, s)
  }
  private def headingMatch(s: String): Option[java.util.regex.Matcher] =
    if (s.isEmpty || s.charAt(0) != '#') None else matchAt(HeadingPattern, s)

  /** export_utils.py:169-182 — one allocation-free scan (round 6): newline,
    * token count (Py.split semantics), letter and uppercase counts all come
    * from a single pass; the checks themselves are unchanged. */
  def isKpiLabel(text: String): Boolean = {
    val stripped = text.strip()
    if (stripped.isEmpty) return false
    var i = 0
    var tokens = 0
    var inTok = false
    var letters = 0
    var upper = 0
    while (i < stripped.length) {
      val c = stripped.charAt(i)
      if (c == '\n') return false
      if (Py.isSplitWs(c)) inTok = false
      else {
        if (!inTok) { tokens += 1; inTok = true }
        if (Character.isLetter(c)) {
          letters += 1
          if (Character.isUpperCase(c)) upper += 1
        }
      }
      i += 1
    }
    if (stripped.charAt(0) == '#' && lookingAt(HeadingPattern, stripped)) return false
    if (tokens > 5) return false
    if (letters == 0) return false
    upper.toDouble / letters >= 0.7
  }

  /** export_utils.py:185-195 */
  def isKpiValue(text: String): Boolean = {
    val stripped = text.strip()
    if (stripped.isEmpty || stripped.contains("\n")) return false
    if (!hasMatch(KpiValueHintPattern, stripped)) return false
    if (hasMatch(KpiUnitPattern, stripped)) return true
    if (stripped.toLowerCase(Locale.ROOT).contains("vs") || stripped.contains("%")) return true
    false
  }

  /** export_utils.py:198-220 */
  def isHeadingLikeLine(text: String): Boolean = {
    val stripped = text.strip()
    if (stripped.isEmpty) return false
    if (stripped.charAt(0) == '#' && lookingAt(HeadingPattern, stripped)) return false
    if (maybePageMarker(stripped)) return false
    if (maybeImagePlaceholder(stripped)) return false
    if (anyDigit(stripped)) return false
    if (stripped.length > 120) return false
    if (Seq(".", "!", "?", ";", ":").exists(stripped.endsWith)) return false
    if (split(stripped).length < 3) return false
    val firstAlpha = stripped.find(Character.isLetter)
    firstAlpha.exists(Character.isUpperCase)
  }

  /** export_utils.py:223-260 — greedy KPI label+value merge. */
  def normalizeKpiBlocks(markdown: String, placeholder: String = PageBreakPlaceholder): String = {
    if (markdown.strip().isEmpty) return markdown
    val hasBreaks = markdown.contains(placeholder)
    val rawParts: Array[String] =
      if (hasBreaks) markdown.split(java.util.regex.Pattern.quote(placeholder), -1)
      else Array(markdown)

    val cleanedParts = rawParts.map { part =>
      val blocks = BlockSplit.split(part, -1).filter(_.strip().nonEmpty)
      val outBlocks = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < blocks.length) {
        val block = blocks(i).strip()
        var handled = false
        if (isKpiLabel(block)) {
          var merged = block
          var consumed = 1
          var j = i + 1
          val limit = math.min(i + 3, blocks.length)
          var stop = false
          while (j < limit && !stop) {
            val candidate = blocks(j).strip()
            if (isKpiValue(candidate)) {
              merged = s"$merged ${joinSplit(candidate)}"
              consumed += 1
            } else stop = true
            j += 1
          }
          if (consumed > 1) {
            outBlocks += merged
            i += consumed
            handled = true
          }
        }
        if (!handled) { outBlocks += block; i += 1 }
      }
      outBlocks.mkString("\n\n")
    }

    if (!hasBreaks) cleanedParts(0)
    else cleanedParts.mkString(s"\n\n$placeholder\n\n")
  }

  /** export_utils.py:263-279 */
  def isAxisLikeLine(text: String): Boolean = {
    val stripped = text.strip()
    if (stripped.isEmpty || stripped.length > 40) return false
    if (!anyDigit(stripped)) return false // numericTokens == 0 -> false on every path
    if (!lookingAt(AxisAllowedPattern, stripped)) return false
    val tokens = findAll(AxisWordToken, stripped)
    if (tokens.isEmpty || tokens.length > 6) return false
    val numericTokens = tokens.count(anyDigit)
    if (numericTokens == 0) return false
    if (tokens.forall(t => lookingAt(AxisTokenPattern, t) && fullMatch(AxisTokenPattern, t))) return true
    if (numericTokens >= tokens.length - 1 && stripped.length <= 20) return true
    false
  }

  /** export_utils.py:282-319 */
  def removeAxisLikeLines(markdown: String, placeholder: String = PageBreakPlaceholder): String = {
    if (markdown.strip().isEmpty) return markdown
    val hasBreaks = markdown.contains(placeholder)
    val rawParts: Array[String] =
      if (hasBreaks) markdown.split(java.util.regex.Pattern.quote(placeholder), -1)
      else Array(markdown)

    val cleanedParts = rawParts.map { part =>
      val linesOut = scala.collection.mutable.ArrayBuffer.empty[String]
      for (line <- splitLines(part)) {
        val s = line.strip()
        val keep =
          if (s.isEmpty) true
          else if (maybePageMarker(s)) true
          else if (maybeImagePlaceholder(s)) true
          else if (s.charAt(0) == '#' && lookingAt(HeadingPattern, s)) true
          else if (s.contains("|")) true
          else !isAxisLikeLine(s)
        if (keep) linesOut += line
      }
      linesOut.mkString("\n")
    }

    if (!hasBreaks) cleanedParts(0)
    else cleanedParts.mkString(s"\n\n$placeholder\n\n")
  }

  /** export_utils.py:322-379 — drop page-final headings with no follow-up. */
  def removeOrphanHeadings(markdown: String, placeholder: String = PageBreakPlaceholder): String = {
    if (markdown.strip().isEmpty) return markdown
    val hasBreaks = markdown.contains(placeholder)
    val rawParts: Array[String] =
      if (hasBreaks) markdown.split(java.util.regex.Pattern.quote(placeholder), -1)
      else Array(markdown)

    def nextMeaningfulLine(startIndex: Int): Option[String] = {
      var pi = startIndex
      while (pi < rawParts.length) {
        for (line <- splitLines(rawParts(pi))) {
          val s = line.strip()
          if (s.nonEmpty && !maybePageMarker(s) && !maybeImagePlaceholder(s)) return Some(s)
        }
        pi += 1
      }
      None
    }

    val cleanedParts = rawParts.zipWithIndex.map { case (partIn, idx) =>
      var part = partIn
      val lines = splitLines(part).toBuffer
      var lastIdx = -1
      var li = lines.length - 1
      while (li >= 0 && lastIdx == -1) {
        if (lines(li).strip().nonEmpty) lastIdx = li
        li -= 1
      }
      if (lastIdx == -1) part
      else {
        val stripped = lines(lastIdx).strip()
        headingMatch(stripped) match {
          case Some(m) =>
            val headingLevel = m.group(1).length
            nextMeaningfulLine(idx + 1) match {
              case None =>
                lines(lastIdx) = ""
                part = lines.mkString("\n").replaceAll("\\s+$", "")
              case Some(nextLine) =>
                val nextMatch = headingMatch(nextLine)
                val superseding = nextMatch.exists(_.group(1).length <= headingLevel)
                if (superseding || isHeadingLikeLine(nextLine)) {
                  lines(lastIdx) = ""
                  part = lines.mkString("\n").replaceAll("\\s+$", "")
                }
            }
            part
          case None => part
        }
      }
    }

    if (!hasBreaks) cleanedParts(0)
    else cleanedParts.mkString(s"\n\n$placeholder\n\n")
  }


}

object OracleKpiAxis {
  private val AxisAllowedPattern = re("^[0-9A-Za-z%./+\\-\\s]+$")
  // date_cleanup.py:15-18 — note the reference's own copy has an escaping quirk
  // (`mil\\.?` inside a raw string); the effective alternatives match ours.
  private val AxisTokenPattern = reI("^(?:\\d{1,4}(?:[.,]\\d+)?%?|[12]\\d{3}|Q[1-4]|9L|L9|mil|mil\\.|RON|EUR|USD|LEI)$")
  private val AxisWordToken = re("[A-Za-z0-9%]+")

  /** date_cleanup.py:54-70 (same battery as export_utils._is_axis_like_line) */
  def axisLike(text: String): Boolean = {
    val stripped = text.strip()
    if (stripped.isEmpty || stripped.length > 40) return false
    if (!AxisAllowedPattern.matcher(stripped).lookingAt()) return false
    val tokens = findAll(AxisWordToken, stripped)
    if (tokens.isEmpty || tokens.length > 6) return false
    val numericTokens = tokens.count(anyDigit)
    if (numericTokens == 0) return false
    if (tokens.forall(t => fullMatch(AxisTokenPattern, t))) return true
    if (numericTokens >= tokens.length - 1 && stripped.length <= 20) return true
    false
  }
}

object OracleDocTransforms {
  /** table_fixes.py:314-337 — header row must tile columns contiguously. */
  def headerColumnGroups(table: TableData): Option[List[(Int, Int)]] = {
    val headerCells = table.cells.filter(_.startRow == 0)
    if (headerCells.isEmpty) return None
    val sorted = headerCells.sortBy(_.startCol)
    var expectedCol = 0
    val groups = List.newBuilder[(Int, Int)]
    for (cell <- sorted) {
      if (cell.startCol != expectedCol) return None
      if (cell.endCol <= cell.startCol) return None
      groups += ((cell.startCol, cell.endCol))
      expectedCol = cell.endCol
    }
    if (expectedCol != table.numCols) return None
    val gs = groups.result()
    if (gs.forall { case (s, e) => e - s == 1 }) return None
    Some(gs)
  }

  private def mergeBboxes(bboxes: Seq[Bbox]): Option[Bbox] = {
    if (bboxes.isEmpty) None
    else Some(Bbox(
      bboxes.map(_.l).min, bboxes.map(_.t).min,
      bboxes.map(_.r).max, bboxes.map(_.b).max,
      bboxes.head.origin))
  }

  /** table_fixes.py:350-412 — collapse column groups defined by header spans. */
  def collapseTableHeaderGroups(table: TableData): Option[TableData] = {
    headerColumnGroups(table) match {
      case None => None
      case Some(groups) =>
        val colMap = new Array[Int](table.numCols)
        for (((start, end), newIdx) <- groups.zipWithIndex; c <- start until end)
          colMap(c) = newIdx

        // preserve insertion order of merge keys, mirroring dict semantics
        val merged = scala.collection.mutable.LinkedHashMap
          .empty[(Int, Int, Int, Int), scala.collection.mutable.ArrayBuffer[(TableCell, Int)]]
        for (cell <- table.cells) {
          val newStart = colMap(cell.startCol)
          val newEnd = colMap(cell.endCol - 1) + 1
          val key = (cell.startRow, cell.endRow, newStart, newEnd)
          merged.getOrElseUpdate(key, scala.collection.mutable.ArrayBuffer.empty) +=
            ((cell, cell.startCol))
        }

        val updated = merged.map { case ((rowStart, rowEnd, colStart, colEnd), cells) =>
          val ordered = cells.sortBy(_._2)
          val texts = ordered.map(_._1.text).filter(t => t != null && t.strip().nonEmpty)
            .map(_.strip())
          val mergedText = texts.mkString(" ").strip()
          val mergedBbox = mergeBboxes(ordered.flatMap(_._1.bbox).toSeq)
          TableCell(
            startRow = rowStart, endRow = rowEnd, startCol = colStart, endCol = colEnd,
            rowSpan = rowEnd - rowStart, colSpan = colEnd - colStart,
            text = mergedText,
            columnHeader = ordered.exists(_._1.columnHeader),
            rowHeader = ordered.exists(_._1.rowHeader),
            rowSection = ordered.exists(_._1.rowSection),
            fillable = ordered.exists(_._1.fillable),
            bbox = mergedBbox)
        }.toArray

        val sortedCells = updated.sortBy(c => (c.startRow, c.startCol, c.endRow, c.endCol))
        Some(TableData(table.numRows, groups.length, sortedCells))
    }
  }

  /** table_fixes.py:415-421 */
  def collapseDocTableGroups(doc: Doc): (Doc, Int) = {
    var updated = 0
    val items = doc.items.map { item =>
      item.table.flatMap(collapseTableHeaderGroups) match {
        case Some(newTable) => updated += 1; item.copy(table = Some(newTable))
        case None => item
      }
    }
    (doc.copy(items = items), updated)
  }

  /** table_fixes.py:586-605 — header label normalization. */
  def normalizeDocTableHeaders(doc: Doc): (Doc, Int) = {
    var updated = 0
    val items = doc.items.map { item =>
      item.table match {
        case Some(t) =>
          val cells = t.cells.map { cell =>
            if (cell.startRow != 0) cell
            else {
              val cleaned = OracleCellClean.cleanHeaderText(cell.text)
              if (cleaned != cell.text) { updated += 1; cell.copy(text = cleaned) } else cell
            }
          }
          item.copy(table = Some(t.copy(cells = cells)))
        case None => item
      }
    }
    (doc.copy(items = items), updated)
  }

  /** table_fixes.py:608-618 — cell-clean chain over all cells. */
  def cleanDocTableCells(doc: Doc): (Doc, Int) = {
    var updated = 0
    val items = doc.items.map { item =>
      item.table match {
        case Some(t) =>
          val cells = t.cells.map { cell =>
            val cleaned = OracleCellClean.cleanTableCellText(cell.text)
            if (cleaned != cell.text) { updated += 1; cell.copy(text = cleaned) } else cell
          }
          item.copy(table = Some(t.copy(cells = cells)))
        case None => item
      }
    }
    (doc.copy(items = items), updated)
  }

  /** table_fixes.py:621-669 — per-column dominant-currency vote + rewrite.
    * Dominance: total >= 2 and freq/total >= 0.7. */
  def normalizeTableCurrencyColumns(table: TableData): (TableData, Int) = {
    val numCols = table.numCols
    if (numCols <= 0) return (table, 0)
    val counts = Array.fill(numCols)(scala.collection.mutable.LinkedHashMap.empty[String, Int])
    for (cell <- table.cells) {
      if (cell.startRow != 0 && cell.endCol - cell.startCol == 1) {
        val text = Option(cell.text).getOrElse("")
        Py.search(OracleCellClean.CurrencyToken, text).foreach { m =>
          val cur = m.group(1)
          counts(cell.startCol)(cur) = counts(cell.startCol).getOrElse(cur, 0) + 1
        }
      }
    }
    val dominant: Array[Option[String]] = counts.map { counter =>
      if (counter.isEmpty) None
      else {
        val total = counter.values.sum
        // Python max(items, key=freq): first max wins on tie (insertion order)
        val (currency, freq) = counter.maxBy(_._2)
        if (total >= 2 && freq.toDouble / total >= 0.7) Some(currency) else None
      }
    }
    var updated = 0
    val cells = table.cells.map { cell =>
      if (cell.startRow == 0 || cell.endCol - cell.startCol != 1) cell
      else dominant(cell.startCol) match {
        case Some(desired) =>
          val text = Option(cell.text).getOrElse("")
          Py.search(OracleCellClean.CurrencyToken, text) match {
            case Some(m) if m.group(1) != desired =>
              val newText = Py.sub(OracleCellClean.CurrencyToken, desired, text)
              if (newText != text) { updated += 1; cell.copy(text = newText) } else cell
            case _ => cell
          }
        case None => cell
      }
    }
    (table.copy(cells = cells), updated)
  }

  /** table_fixes.py:672-678 */
  def normalizeDocTableCurrencies(doc: Doc): (Doc, Int) = {
    var updated = 0
    val items = doc.items.map { item =>
      item.table match {
        case Some(t) =>
          val (nt, n) = normalizeTableCurrencyColumns(t)
          updated += n
          item.copy(table = Some(nt))
        case None => item
      }
    }
    (doc.copy(items = items), updated)
  }

  /** date_cleanup.py:73-126 / :129-182 — delete text items overlapping
    * picture bboxes (>= ratio of the text bbox area). Shared geometry core. */
  private def removeTextInsidePictures(doc: Doc, predicate: String => Boolean,
                                       ratio: Double): (Doc, Int) = {
    val picturesByPage = doc.items
      .filter(i => i.kind == ItemKind.Picture && i.bbox.nonEmpty)
      .groupBy(_.pageNo)
      .map { case (p, is) => p -> is.flatMap(_.bbox) }
    if (picturesByPage.isEmpty) return (doc, 0)
    val pageHeights = doc.pageHeights

    val toDelete = scala.collection.mutable.Set.empty[Int]
    for (item <- doc.items) {
      if (item.kind != ItemKind.Table && item.kind != ItemKind.Picture &&
          item.text != null && item.text.nonEmpty && predicate(item.text) &&
          item.bbox.nonEmpty) {
        picturesByPage.get(item.pageNo).foreach { boxes =>
          val h = pageHeights.get(item.pageNo)
          val tb = h.map(item.bbox.get.toTopLeft).getOrElse(item.bbox.get)
          val hit = boxes.exists { pb =>
            val apb = h.map(pb.toTopLeft).getOrElse(pb)
            KpiAxis.overlapRatio(tb.l, tb.t, tb.r, tb.b, apb.l, apb.t, apb.r, apb.b) >= ratio
          }
          if (hit) toDelete += item.idx
        }
      }
    }
    if (toDelete.isEmpty) (doc, 0)
    else (doc.copy(items = doc.items.filterNot(i => toDelete.contains(i.idx))), toDelete.size)
  }

  def removeDateOnlyTextInsidePictures(doc: Doc, ratio: Double = 0.6): (Doc, Int) =
    removeTextInsidePictures(doc, KpiAxis.dateOnly, ratio)

  def removeAxisTextInsidePictures(doc: Doc, ratio: Double = 0.6): (Doc, Int) =
    removeTextInsidePictures(doc, OracleKpiAxis.axisLike, ratio)

  /** whitespace_fix.py:23-38 */
  def normalizeDocTextWhitespace(doc: Doc): (Doc, Int) = {
    var updated = 0
    val items = doc.items.map { item =>
      if (item.kind == ItemKind.Table || item.kind == ItemKind.Picture ||
          item.text == null || item.text.isEmpty) item
      else {
        var normalized = Whitespace.normalizeTextWhitespace(item.text)
        normalized = TextNormalize.normalizeMojibakeText(normalized)
        normalized = TextNormalize.normalizeLigatures(normalized)
        if (normalized != item.text) { updated += 1; item.copy(text = normalized) }
        else item
      }
    }
    (doc.copy(items = items), updated)
  }


  /** Full reference pass order (conversion_utils.py:490-499). Returns the
    * transformed doc plus per-pass change counters for lineage metrics. */
  def applyAll(docIn: Doc): (Doc, Map[String, Int]) = {
    var doc = docIn
    val counters = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val (d1, c1) = collapseDocTableGroups(doc); doc = d1; counters("collapsed_tables") = c1
    val (d2, c2) = normalizeDocTableHeaders(doc); doc = d2; counters("normalized_headers") = c2
    val (d3, c3) = cleanDocTableCells(doc); doc = d3; counters("cleaned_cells") = c3
    val (d4, c4) = normalizeDocTableCurrencies(doc); doc = d4; counters("normalized_currencies") = c4
    val (d5, c5) = removeDateOnlyTextInsidePictures(doc); doc = d5; counters("removed_dates") = c5
    val (d6, c6) = removeAxisTextInsidePictures(doc); doc = d6; counters("removed_axis_text") = c6
    val (d6b, c6b) = addPictureKpiCaptionsFromItems(doc); doc = d6b; counters("added_kpis") = c6b
    val (d7, c7) = normalizeDocTextWhitespace(doc); doc = d7; counters("normalized_text") = c7
    (doc, counters.toMap)
  }

  /** picture_kpi_extract.py:196-250 — attach KPI-like picture text as
    * captions (max 30/doc, skipped when already present in the doc text). */
  def addPictureKpiCaptions(doc: Doc,
                            pictureText: (Int, Bbox) => String,
                            maxAdded: Int = 30): (Doc, Int) = {
    if (maxAdded <= 0) return (doc, 0)
    val docText = MarkdownRender.renderPlainText(doc).toLowerCase(java.util.Locale.ROOT)
    var added = 0
    val out = scala.collection.mutable.ArrayBuffer.empty[DocItem]
    var nextIdx = doc.items.map(_.idx).foldLeft(0)(math.max) + 1
    for ((item, pos) <- doc.items.zipWithIndex) {
      out += item
      // pictures that already have a caption are skipped
      // (picture_kpi_extract.py:213 `if item.captions: continue`) — in our
      // tree a picture's caption is the immediately following caption item
      val hasCaption = pos + 1 < doc.items.length &&
        doc.items(pos + 1).label == Label.Caption
      if (added < maxAdded && item.kind == ItemKind.Picture && item.bbox.nonEmpty &&
          !hasCaption) {
        var raw = pictureText(item.pageNo, item.bbox.get)
        if (raw != null && raw.nonEmpty) {
          raw = TextNormalize.normalizeLigatures(TextNormalize.normalizeMojibakeText(raw))
          raw = KpiAxis.normalizeKpiCaption(raw)
          if (raw.nonEmpty && KpiAxis.isKpiText(raw)) {
            val normalized = raw.toLowerCase(java.util.Locale.ROOT)
            if (normalized.nonEmpty && !docText.contains(normalized)) {
              out += DocItem(nextIdx, ItemKind.Text, Label.Caption, ContentLayer.Body,
                item.pageNo, None, raw, None)
              nextIdx += 1
              added += 1
            }
          }
        }
      }
    }
    (doc.copy(items = out.toArray), added)
  }

  /** addPictureKpiCaptions specialization for the pipeline: the picture
    * item's own text field carries the region text (parsed from the
    * data-picture-text channel). Active only when some picture has text —
    * the KPI_OCR-enabled analog. */
  def addPictureKpiCaptionsFromItems(doc: Doc, maxAdded: Int = 30): (Doc, Int) = {
    if (!doc.items.exists(i => i.kind == ItemKind.Picture && i.text != null && i.text.nonEmpty))
      (doc, 0)
    else {
      val byKey = doc.items.filter(_.kind == ItemKind.Picture)
        .map(i => (i.pageNo, i.bbox) -> Option(i.text).getOrElse("")).toMap
      addPictureKpiCaptions(doc, (p, b) => byKey.getOrElse((p, Some(b)), ""), maxAdded)
    }
  }
}

// Frozen copies of the backend probe's scorer and of the mojibake repair's
// scores as they stood before they became single scanners without boxed
// Set[Char] lookups; TextScanOracleSpec runs the engine against them.

object OracleQuality {
  private def isNoiseLine(line: String): Boolean =
    line.isEmpty || line.startsWith("<!-- image") || line.startsWith("<!-- page break") ||
      line.startsWith("#")

  def scoreMarkdown(text: String): Quality.QualityReport = {
    val lines = splitLines(text).map(_.strip())

    val shortLines = lines.count { line =>
      line.nonEmpty && line.replace(" ", "").length <= 4 && anyAlpha(line)
    }

    val counts = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    for (line <- lines if line.length >= 6 && !isNoiseLine(line)) {
      val k = line.toLowerCase(java.util.Locale.ROOT)
      counts(k) = counts.getOrElse(k, 0) + 1
    }
    val repeatedLines = counts.count(_._2 >= 3)

    val controlChars = text.count(ch => ch.toInt < 32 && ch != '\n' && ch != '\t')

    val score = 100 - 5 * shortLines - 2 * repeatedLines - controlChars
    Quality.QualityReport(math.max(score, 0), shortLines, repeatedLines, controlChars)
  }
}

object OracleTextNormalize {
  import java.nio.charset.{Charset, CharsetEncoder, CodingErrorAction, CharacterCodingException, StandardCharsets}
  import java.nio.{ByteBuffer, CharBuffer}

  private val RomanianDiacritics = "ăâîșțĂÂÎȘȚ".toSet
  private val AllowedLatin1 = "âîÂÎ".toSet

  private val Cp1252Undefined: Set[Char] =
    Set(0x81.toChar, 0x8D.toChar, 0x8F.toChar, 0x90.toChar, 0x9D.toChar)

  def mojibakeScore(text: String): Int = {
    var score = 0
    var i = 0
    while (i < text.length) {
      val ch = text.charAt(i)
      val code = ch.toInt
      if (code >= 0x80 && code <= 0x9F) score += 3
      else if (code >= 0xC0 && code <= 0xFF && !AllowedLatin1.contains(ch)) score += 1
      if (ch == '�') score += 4
      i += 1
    }
    score
  }

  def romanianDiacriticCount(text: String): Int =
    text.count(RomanianDiacritics.contains)

  private def roundTrip(text: String, charset: Charset, cp1252Mode: Boolean): Option[String] = {
    if (cp1252Mode && text.exists(Cp1252Undefined.contains)) return None
    try {
      val encoder: CharsetEncoder = charset.newEncoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
      val bytes: ByteBuffer = encoder.encode(CharBuffer.wrap(text))
      val decoder = StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
      Some(decoder.decode(bytes).toString)
    } catch {
      case _: CharacterCodingException => None
    }
  }

  def normalizeMojibakeText(text: String): String = {
    if (text == null || text.length < 4) return text
    val baseScore = mojibakeScore(text)
    if (baseScore == 0) return text

    val baseDiacritics = romanianDiacriticCount(text)
    var best = text
    var bestScore = baseScore

    val attempts = List(
      (Charset.forName("windows-1252"), true),
      (StandardCharsets.ISO_8859_1, false))
    for ((cs, cpMode) <- attempts) {
      roundTrip(text, cs, cpMode) match {
        case Some(candidate) if candidate != text =>
          val candScore = mojibakeScore(candidate)
          if (candScore < bestScore) {
            val candDiacritics = romanianDiacriticCount(candidate)
            val lengthOk = candidate.length >= math.max(4, (text.length * 0.9).toInt)
            if (!(candDiacritics < baseDiacritics + 1 && candScore >= 2) && lengthOk) {
              best = candidate
              bestScore = candScore
            }
          }
        case _ =>
      }
    }
    best
  }
}
