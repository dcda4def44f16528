package graft.textkit

import Py._
import Numbers.digitsOnly
import TextNormalize.{normalizeLigatures, normalizeMojibakeText}
import Predicates.isSpacedText

/** Table cell/header cleaning chains and OCR-replacement decisions.
  *
  * Semantics derived from
  * /root/reference/src/pdf_to_markdown_docling/table_fixes.py:16-253,424-583.
  * Each step of `cleanTableCellText` mirrors the ordered composition at
  * table_fixes.py:518-545; the order is load-bearing.
  */
object CellClean {
  private val DatePattern = re("\\d{1,2}[./-]\\d{1,2}[./-]\\d{2,4}")
  private val DateFuzzyPattern = re("\\d{1,3}[./-]\\d{1,2}[./-]\\d{2,4}")
  // overlapping fuzzy-date matches via a lookahead wrapper (table_fixes.py:445-447)
  private val DateFuzzyOverlapping = re(s"(?=(${DateFuzzyPattern.pattern}))")
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

  /** group(1) of the first `CurrencyToken` match in text, or null. */
  def firstCurrencyToken(text: String): String = {
    if (text == null) return null
    val ron = indexOfWordToken(text, "RON")
    val eur = indexOfWordToken(text, "EUR")
    if (ron < 0 && eur < 0) null
    else if (eur < 0 || (ron >= 0 && ron < eur)) "RON"
    else "EUR"
  }

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

  /** table_fixes.py:67-82 — (currency?, numberToken) or None. */
  def extractCurrencyNumber(text: String): Option[(Option[String], String)] = {
    // no digit -> every NumberToken match fails digitsOnly -> None
    if (!anyDigit(text)) return None
    val normalized = joinSplit(text)
    val currencies = findAllGroup1(CurrencyToken, normalized).toSet
    val numbers = findAll(NumberToken, normalized).filter(n => digitsOnly(n).nonEmpty)
    if (numbers.isEmpty) return None
    if (currencies.nonEmpty) {
      if (currencies.size != 1 || numbers.length != 1) return None
      return Some((Some(currencies.head), numbers.head))
    }
    if (anyAlpha(normalized)) return None
    if (numbers.length != 1) return None
    Some((None, numbers.head))
  }

  /** table_fixes.py:85-88 */
  def normalizeNumberToken(token: String): String =
    lstripChars(stripChars(token.strip(), "()"), "+-").replace(" ", "")

  /** table_fixes.py:91-115 — groups-of-3 thousands validation. */
  def numberGroupingIsValid(token: String): Boolean = {
    var normalized = normalizeNumberToken(token)
    if (normalized.isEmpty) return false
    val first = normalized.head
    val last = normalized.last
    if (first == '.' || first == ',' || last == '.' || last == ',') return false
    if (normalized.contains(",") && normalized.contains(".")) {
      if (normalized.lastIndexOf(",") > normalized.lastIndexOf("."))
        normalized = normalized.split(",", 2)(0)
      else normalized = normalized.replace(",", "")
    } else if (normalized.contains(",")) {
      if (normalized.count(_ == ',') == 1) normalized = normalized.split(",", 2)(0)
      normalized = normalized.replace(",", "")
    }
    if (!normalized.contains(".")) return true
    val groups = normalized.split("\\.", -1)
    if (groups(0).isEmpty) return false
    groups.drop(1).forall(_.length == 3)
  }

  /** table_fixes.py:118-122 */
  def isNegativeNumberText(text: String): Boolean = {
    val stripped = text.strip()
    stripped.startsWith("-") || (stripped.contains("(") && stripped.contains(")"))
  }

  /** table_fixes.py:125-135 */
  def isSuspectCurrencyCell(text: String): Boolean = {
    extractCurrencyNumber(text) match {
      case None => false
      case Some((_, number)) =>
        val normalized = normalizeNumberToken(number)
        if (normalized.isEmpty) false
        else if (normalized.head == '.' || normalized.head == ',' ||
                 normalized.last == '.' || normalized.last == ',') true
        else !numberGroupingIsValid(normalized)
    }
  }

  private val CurrencyFragments = Set("R", "E", "N", "ON")

  /** table_fixes.py:138-154 */
  def stripTrailingCurrencyFragment(text: String): String = {
    // tokens.last is text[s, e): test it in place before tokenizing
    var e = text.length
    while (e > 0 && isSplitWs(text.charAt(e - 1))) e -= 1
    var s = e
    while (s > 0 && !isSplitWs(text.charAt(s - 1))) s -= 1
    if (!(e - s == 1 && "REN".indexOf(text.charAt(s)) >= 0) &&
        !(e - s == 2 && text.startsWith("ON", s))) return text
    val tokens = split(text)
    if (tokens.length < 3) return text
    val lastTok = tokens.last
    if (!CurrencyFragments.contains(lastTok)) return text
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

  // the anchored patterns below are `^t1\s+ .. tk$` over k non-\s tokens;
  // one whose first token starts with \d needs a text that does too
  private def anchored(text: String, firstDigit: Boolean, tokens: Int): Boolean =
    (if (firstDigit) isUniDigitAt(text, 0) else text.startsWith("RON") || text.startsWith("EUR")) &&
      wsTokens(text) == tokens

  // the number of [./-] chars: each date match holds two of them
  private def dateSepCount(text: String): Int = {
    var k = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (c == '.' || c == '/' || c == '-') k += 1
      i += 1
    }
    k
  }

  // whether some char `c` is followed (after = true) or preceded by a \s char
  private def nextToWs(text: String, c: Char, after: Boolean): Boolean = {
    var p = text.indexOf(c)
    while (p >= 0) {
      val q = if (after) p + 1 else p - 1
      if (q >= 0 && q < text.length && isUniWs(text.charAt(q))) return true
      p = text.indexOf(c, p + 1)
    }
    false
  }

  // whether some maximal \s run has a \d on both sides (read forwards)
  private def digitWsDigit(text: String): Boolean = {
    val n = text.length
    var i = 1
    while (i < n) {
      if (isUniWs(text.charAt(i)) && Character.isDigit(text.codePointBefore(i))) {
        while (i < n && isUniWs(text.charAt(i))) i += 1
        if (isUniDigitAt(text, i)) return true
      }
      i += 1
    }
    false
  }

  /** table_fixes.py:157-165 */
  def stripCurrencyPrefixDup(text: String): String =
    if (!hasCurrencyLetter(text) || !anchored(text, firstDigit = true, 3)) text
    else matchAt(CurrencyPrefixDup, text) match {
      case Some(m) if m.end == text.length =>
        val prefix = digitsOnly(m.group(1))
        val value = digitsOnly(m.group(3))
        if (prefix.nonEmpty && value.startsWith(prefix)) s"${m.group(2)} ${m.group(3)}" else text
      case _ => text
    }

  /** table_fixes.py:168-172 */
  def stripCurrencyTrailingShortToken(text: String): String =
    if (!hasCurrencyLetter(text) || !anchored(text, firstDigit = true, 3)) text
    else matchAt(CurrencyTrailingShort, text) match {
      case Some(m) => s"${m.group(2)} ${m.group(1)}"
      case None => text
    }

  /** table_fixes.py:175-185 */
  def stripDuplicateCurrencySuffix(text: String): String = {
    // tokens(0) must be RON or EUR and tokens.last the same: test both in
    // place before tokenizing
    var i = 0
    while (i < text.length && isSplitWs(text.charAt(i))) i += 1
    var e = text.length
    while (e > i && isSplitWs(text.charAt(e - 1))) e -= 1
    if (!(text.startsWith("RON", i) || text.startsWith("EUR", i)) ||
        (i + 3 < text.length && !isSplitWs(text.charAt(i + 3))) ||
        e - i < 7 || !text.regionMatches(i, text, e - 3, 3) || !isSplitWs(text.charAt(e - 4)))
      return text
    val tokens = split(text)
    if (tokens.length < 3) return text
    if (tokens(0) != "RON" && tokens(0) != "EUR") return text
    if (tokens.last != tokens(0)) return text
    if (!anyDigit(tokens(1))) return text
    tokens.dropRight(1).mkString(" ")
  }

  /** table_fixes.py:188-195 — the four subs as one scan over the maximal
    * `\s` runs. A run is never split by a sub (each needs its whole run:
    * the lookbehind sees a non-`\s` char only at a run's start, the
    * lookahead only at its end), and removing one run leaves the neighbours
    * of the others as they were, so each run's fate depends on its two
    * neighbours and its length alone:
    *  - `(?<=\d)\s+(?=\d)`, `(?<=\d)\s+(?=[.,])`, `(?<=[.,])\s+(?=\d)`
    *    delete it (a lookbehind reads one char, a lookahead a code point);
    *  - `\s{2,}` turns what is left of length >= 2 into one space. */
  def compactNumberSpacing(text: String): String = {
    if (!isNumericish(text)) return text
    val n = text.length
    var sb: java.lang.StringBuilder = null
    var last = 0
    var i = 0
    while (i < n) {
      if (!isUniWs(text.charAt(i))) i += 1
      else {
        val start = i
        while (i < n && isUniWs(text.charAt(i))) i += 1
        val before = if (start > 0) text.charAt(start - 1) else ' '
        val digitAfter = isUniDigitAt(text, i)
        val punctAfter = i < n && (text.charAt(i) == '.' || text.charAt(i) == ',')
        val delete =
          (Character.isDigit(before) && (digitAfter || punctAfter)) ||
            ((before == '.' || before == ',') && digitAfter)
        if (delete || i - start >= 2) {
          if (sb == null) sb = new java.lang.StringBuilder(n)
          sb.append(text, last, start)
          if (!delete) sb.append(' ')
          last = i
        }
      }
    }
    val compacted = if (sb == null) text else sb.append(text, last, n).toString
    compacted.strip()
  }

  /** table_fixes.py:198-202 */
  def normalizeCurrencySuffix(text: String): String =
    if (!hasCurrencyLetter(text) || !anchored(text, firstDigit = true, 2)) text
    else matchAt(CurrencySuffix, text) match {
      case Some(m) => s"${m.group(2)} ${m.group(1)}"
      case None => text
    }

  /** table_fixes.py:205-211 */
  def fixMissingCurrencyLetter(text: String): String =
    // both branches need a literal "ON" or "RO" — no 'O', no match
    if (text.indexOf('O') < 0) text
    else (if (anchored(text, firstDigit = true, 2)) matchAt(CurrencyMissingR, text) else None) match {
      case Some(m) => s"RON ${m.group(1)}"
      case None =>
        if (!text.contains("RON") && indexOfWordToken(text, "RO") >= 0 && isNumericish(text))
          sub(CurrencyRoToken, "RON", text)
        else text
    }

  /** table_fixes.py:214-236 */
  def dedupeRepeatedCurrencyValue(text: String): String = {
    if (!hasCurrencyLetter(text)) return text
    // the first pattern has four tokens and starts with RON or EUR, the next
    // three four tokens and a digit, the last three tokens and a digit
    if (anchored(text, firstDigit = false, 4)) matchAt(CurrencyRepeatPrefix, text).foreach { m =>
      return s"${m.group(1)} ${m.group(2)}"
    }
    if (anchored(text, firstDigit = true, 4)) {
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
    }
    if (anchored(text, firstDigit = true, 3)) matchAt(CurrencyPrefixOnly, text).foreach { m =>
      val prefixDigits = digitsOnly(m.group(1))
      val valueDigits = digitsOnly(m.group(3))
      if (prefixDigits.nonEmpty && !valueDigits.startsWith(prefixDigits))
        return s"${m.group(2)} ${m.group(3)}"
    }
    text
  }

  /** table_fixes.py:239-253 — keep 4-digit-year longest date. */
  def dedupeDatesInCell(text: String): String = {
    // two date matches need digits and four [./-]; a letter returns text
    // after the match count anyway
    if (dateSepCount(text) < 4 || !anyDigit(text) || anyAlpha(text)) return text
    val dates = findAll(DatePattern, text)
    if (dates.length < 2) return text
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

  /** table_fixes.py:445-447 — overlapping fuzzy-date matches. */
  private def fuzzyDateMatches(text: String): List[(Int, String)] = {
    val m = DateFuzzyOverlapping.matcher(text)
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
    if (deltaLead(normalized) && fullMatch(DeltaPercent, normalized)) return "Δ%"
    // a date match holds two [./-] chars, the fuzzy branch needs three
    val seps = dateSepCount(normalized)
    val dateMatches = if (seps < 2) Nil else findIter(DatePattern, normalized)
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
    if (chosenYearLen < 4 && seps > 2) {
      val fuzzyMatches = fuzzyDateMatches(normalized)
      if (fuzzyMatches.nonEmpty) {
        val fuzzyChosen = chooseDateMatch(fuzzyMatches)
        val repaired = repairFuzzyDate(fuzzyChosen)
        if (normalized != repaired && fullMatch(DigitsOnlyAllPattern, normalized))
          return repaired
      }
    }
    // joinSplit's output is single-space separated: its token list is two
    // equal halves iff the string is "X X" (odd length, ' ' in the middle)
    val n = normalized.length
    val mid = n / 2
    if (n % 2 == 1 && normalized.charAt(mid) == ' ' &&
        normalized.regionMatches(0, normalized, mid + 1, mid))
      return normalized.substring(0, mid)
    normalized
  }

  private def deltaLead(s: String): Boolean =
    s.nonEmpty && { val c = s.charAt(0); c == 'ƒ' || c == '∆' || c == 'Δ' }

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
    // guards: each regex step runs only when the text holds what its
    // pattern needs to match (or, for SpacedPercent, to change the text) —
    // identical output, and a clean cell skips every regex of the chain
    if (deltaLead(cleaned) && fullMatch(DeltaPercent, cleaned)) return "Δ%"
    // DupPercent needs "%\s"; SpacedPercent rewrites a match to itself
    // unless "\s%" occurs
    if (nextToWs(cleaned, '%', after = true)) cleaned = sub(DupPercent, "$1%", cleaned)
    if (nextToWs(cleaned, '%', after = false)) cleaned = sub(SpacedPercent, "$1%", cleaned)
    if (nextToWs(cleaned, '-', after = true)) cleaned = sub(NegativeSpace, "-", cleaned)
    // both group patterns need a '.' and a \s run between two digits
    if (cleaned.indexOf('.') >= 0 && digitWsDigit(cleaned)) {
      cleaned = sub(DupGroup, "$1$2", cleaned)
      cleaned = subFn(LeadingGroup, cleaned)(mergeLeadingGroup)
    }
    cleaned = joinSplit(cleaned)
    if (anyDigit(cleaned)) cleaned = stripChars(cleaned, "[]")
    cleaned = compactNumberSpacing(cleaned)
    // the paren subs need "(\s" and "\s)"; the first cannot make the second
    val openWs = nextToWs(cleaned, '(', after = true)
    val closeWs = nextToWs(cleaned, ')', after = false)
    if ((openWs || closeWs) && isNumericish(cleaned)) {
      if (openWs) cleaned = sub(ParensSpaceOpen, "(", cleaned)
      if (closeWs) cleaned = sub(ParensSpaceClose, ")", cleaned)
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

  /** table_fixes.py:548-583 — OCR numeric-cell acceptance test. */
  def shouldReplaceNumericCell(baseText: String, ocrText: String): Boolean = {
    if (baseText == null || baseText.isEmpty || ocrText == null || ocrText.isEmpty) return false
    if (isSpacedText(ocrText)) return false
    val baseClean = cleanTableCellText(baseText)
    val ocrClean = cleanTableCellText(ocrText)
    if (baseClean == ocrClean) return false
    val baseInfo = extractCurrencyNumber(baseClean)
    val ocrInfo = extractCurrencyNumber(ocrClean)
    if (baseInfo.isEmpty || ocrInfo.isEmpty) return false
    val (baseCur, baseNum) = baseInfo.get
    val (ocrCur, ocrNum) = ocrInfo.get
    if (baseCur.isEmpty != ocrCur.isEmpty) return false
    if (baseCur.nonEmpty && ocrCur.nonEmpty && baseCur != ocrCur) return false
    if (isNegativeNumberText(baseClean) != isNegativeNumberText(ocrClean)) return false

    val baseDigits = digitsOnly(baseNum)
    val ocrDigits = digitsOnly(ocrNum)
    if (baseDigits.isEmpty || ocrDigits.isEmpty) return false
    if (ocrDigits.length <= baseDigits.length) return false
    if (!numberGroupingIsValid(ocrNum)) return false
    if (isSuspectCurrencyCell(baseClean)) return true
    if (ocrDigits.endsWith(baseDigits) && ocrDigits.length - baseDigits.length <= 2) return true
    false
  }
}
