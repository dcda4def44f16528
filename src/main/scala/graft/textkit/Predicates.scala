package graft.textkit

import Py._

/** Spacing/noise predicate battery.
  *
  * Re-derived from the reference detectors in
  * /root/reference/src/pdf_to_markdown_docling/audit_utils.py:49-171 — these
  * predicates define which items get routed through repair, so their decisions
  * must be bit-exact.
  */
object Predicates {
  // SpacedText, SpacedDigit and ShortAlphaSeq: the reference's greedy token
  // runs as possessive loops that take a token only when another follows.
  // They match the same spans, and java.util.regex runs them without the
  // per-token recursion that overflows the stack on long one-char runs
  private[textkit] val SpacedText = re("(?:\\b\\w\\b\\s+(?=\\w\\b))++\\b\\w\\b")
  private[textkit] val SpacedDigit = re("(?:\\b\\d\\b\\s+(?=\\d\\b)){3,}+\\b\\d\\b")
  private val SplitWord = re("\\b(\\w{2,})\\s+(\\w)\\s+(\\w{2,})\\b")
  private val SpacedNumber = re("\\d[.,/]\\s+\\d|\\d\\s+[.,/]\\s*\\d")
  private[textkit] val RunonLetters = re("(?:[^\\W\\d_]{20,})")
  private[textkit] val RunonMergedAlnum = re("(?:[^\\W\\d_]{6,}\\d{2,}[^\\W\\d_]{2,}|\\d{2,}[^\\W\\d_]{6,})")
  private val MultiSpace = re("(?<=\\S)[ \\t]{2,}(?=\\S)")
  private val CommonSingleLetterWords = Set("a", "A", "I", "i", "o", "O")
  private[textkit] val LetterChars = "A-Za-zĂÂÎȘȚăâîșț"
  private[textkit] val ShortAlphaSeq =
    re(s"(?:\\b[$LetterChars]{1,2}\\b\\s+(?=[$LetterChars]{1,2}\\b)){2,}+\\b[$LetterChars]{1,2}\\b")
  private val TrailingSingleAlpha = re(s"\\b[$LetterChars]{2,}\\s+[$LetterChars]{1}\\b")
  private val SoldSuffix = reI("\\bSOLD\\s+[CD]\\b")
  private[textkit] val WordToken = re("\\w+")

  /** audit_utils.py:72-119 — split-letter/digit artifact detector. */
  def isSpacedText(text: String): Boolean = {
    if (hasMatch(SpacedDigit, text)) return true
    if (hasMatch(SpacedNumber, text)) return true
    val spacedMatches = findAll(SpacedText, text)
    for (m <- spacedMatches) {
      val tokens = split(m)
      if (tokens.exists(t => isAlphaStr(t) && !CommonSingleLetterWords.contains(t)))
        return true
    }
    if (text.length < 6) return false

    val splitMatches = {
      val m = SplitWord.matcher(text)
      val out = List.newBuilder[String]
      while (m.find()) out += m.group(2)
      out.result()
    }
    for (middle <- splitMatches) {
      if (isAlphaStr(middle) && !CommonSingleLetterWords.contains(middle)) return true
    }

    val tokens = split(text)
    if (tokens.length < 4) return false
    val singleTokens = tokens.filter(t => t.length == 1 && isAlnumStr(t))
    if (singleTokens.length.toDouble / tokens.length >= 0.5) return true

    if (splitMatches.nonEmpty) {
      val rareSingle = singleTokens.filter(t => isAlphaStr(t) && !CommonSingleLetterWords.contains(t))
      if (rareSingle.length >= 2) return true
      if (singleTokens.nonEmpty && rareSingle.length.toDouble / singleTokens.length >= 0.5)
        return true
    }
    false
  }

  /** audit_utils.py:122-124 */
  def isMultiSpaceText(text: String): Boolean = hasMatch(MultiSpace, text)

  /** audit_utils.py:126-147 — run-on text (missing spaces). */
  def isCollapsedText(text: String): Boolean = {
    if (hasMatch(RunonLetters, text)) return true
    if (hasMatch(RunonMergedAlnum, text)) return true
    if (text.length < 60) return false
    val tokens = findAll(WordToken, text)
    if (tokens.length < 8) return false
    val avgLen = tokens.map(_.length).sum.toDouble / tokens.length
    val longTokens = tokens.count(_.length >= 18)
    val spaceRatio = text.count(_ == ' ').toDouble / math.max(text.length, 1)
    if (avgLen >= 9.0) return true
    if (longTokens >= 2) return true
    if (text.length > 120 && spaceRatio < 0.05) return true
    false
  }

  /** audit_utils.py:150-152 */
  def needsSpacingFix(text: String): Boolean =
    isSpacedText(text) || isCollapsedText(text)

  /** audit_utils.py:155-171 — stricter variant for table cells. */
  def needsTableSpacingFix(text: String): Boolean = {
    if (needsSpacingFix(text)) return true
    if (text.isEmpty) return false
    val hasDigit = anyDigit(text)
    val hasLetter = anyAlpha(text)
    if (hasDigit && !hasLetter) return false
    if (hasMatch(ShortAlphaSeq, text)) return true
    if (hasMatch(TrailingSingleAlpha, text)) {
      if (hasMatch(SoldSuffix, text)) return false
      return true
    }
    false
  }
}
