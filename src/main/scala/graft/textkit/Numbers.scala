package graft.textkit

import Py._

/** Number/date/token extraction used by recall metrics and TOC detection.
  * Semantics derived from
  * /root/reference/src/pdf_to_markdown_docling/audit_utils.py:14-17,173-211.
  */
object Numbers {
  val NumberPattern = re("(?<!\\w)[+-]?(?:\\d{1,3}(?:[ .]\\d{3})+|\\d+)(?:[.,]\\d+)?%?")
  val DatePattern = re("\\b\\d{1,2}[./-]\\d{1,2}[./-]\\d{2,4}\\b")
  private val WordToken = re("\\w+")

  /** audit_utils.py:173-174 — casefold + strip underscores.
    * Locale.ROOT lowercase matches casefold for the corpus charset
    * (ASCII + Romanian diacritics). */
  def normalizeToken(token: String): String =
    stripChars(token.toLowerCase(java.util.Locale.ROOT), "_")

  /** audit_utils.py:177-178 */
  def tokenize(text: String): List[String] =
    findAll(WordToken, text).map(normalizeToken)

  /** audit_utils.py:181-195 — canonical numeric form for recall matching. */
  def normalizeNumber(tokenIn: String): String = {
    var token = tokenIn.strip()
    val percent = if (token.endsWith("%")) "%" else ""
    token = token.reverse.dropWhile(_ == '%').reverse
    if (token.contains(",") && token.contains(".")) {
      if (token.lastIndexOf(",") > token.lastIndexOf(".")) {
        token = token.replace(".", "").replace(",", ".")
      } else {
        token = token.replace(",", "")
      }
    } else {
      if (token.count(_ == ',') == 1 && !token.contains(".")) token = token.replace(",", ".")
      token = token.replace(" ", "")
    }
    token + percent
  }

  /** audit_utils.py:198-199 */
  def extractNumbers(text: String): Set[String] =
    findAll(NumberPattern, text).map(normalizeNumber).toSet

  /** audit_utils.py:202-203 */
  def extractDates(text: String): Set[String] =
    findAll(DatePattern, text).toSet

  /** audit_utils.py:206-211 — multiset left side, set right side. */
  def coverage(reference: Seq[String], candidate: Set[String]): Double = {
    if (reference.isEmpty) return 1.0
    reference.count(candidate.contains).toDouble / reference.length
  }

  /** `sub(\D, "", value)` as a scan: the `\d` code points of value, in order. */
  def digitsOnly(value: String): String = {
    val n = value.length
    var sb: java.lang.StringBuilder = null
    var i = 0
    while (i < n) {
      val cp = value.codePointAt(i)
      val w = Character.charCount(cp)
      if (Character.isDigit(cp)) {
        if (sb != null) sb.appendCodePoint(cp)
      } else if (sb == null) {
        sb = new java.lang.StringBuilder(n)
        sb.append(value, 0, i)
      }
      i += w
    }
    if (sb == null) value else sb.toString
  }
}
