package graft.textkit

import Py._

/** Chart-noise predicates (axis/date/KPI) used by the picture-overlap deletes
  * and KPI caption extraction.
  *
  * Semantics derived from
  * /root/reference/src/pdf_to_markdown_docling/date_cleanup.py:13-70 and
  * picture_kpi_extract.py:23-30,122-193.
  */
object KpiAxis {
  private val DateOnlyPattern = re("^\\d{2}[./-]\\d{2}[./-]\\d{4}$")

  private val NumToken = re("\\d{1,3}(?:[.,]\\d{3})+(?:[.,]\\d+)?|\\d+(?:[.,]\\d+)?")
  private val CurrencyToken = reI("\\b(?:RON|EUR|USD|LEI)\\b")
  private val AxisUnitToken = reI("\\b(?:mil\\.?|mii|milioane?)\\b")
  private val KeywordToken = reI("\\b(?:profit\\w*|cifr\\w*|venit\\w*|active\\w*|ebitda\\w*|marj\\w*|rezultat\\w*|capital\\w*)\\b")
  private val AlphaTok = re("[^\\W\\d_]+")
  private val CurrencyWords = Set("ron", "eur", "usd", "lei")

  /** date_cleanup.py:50-51 */
  def dateOnly(text: String): Boolean = hasMatch(DateOnlyPattern, text.strip())

  /** picture_kpi_extract.py:137-161 — chart-axis tick detector. */
  def isAxisLikePicture(text: String): Boolean = {
    val numbers = findAll(NumToken, text)
    if (numbers.length < 4) return false
    if (numbers.exists(n => n.contains(".") || n.contains(","))) return false
    var smallTicks = 0
    var largeNonYear = false
    for (num <- numbers) {
      val cleaned = num.replace(".", "").replace(",", "")
      if (isDigitStr(cleaned)) {
        val value = BigInt(cleaned)
        if (value <= 200) smallTicks += 1
        if (value >= 1000 && !(value >= 1900 && value <= 2100)) largeNonYear = true
      }
    }
    if (largeNonYear) return false
    if (smallTicks < 4) return false
    hasMatch(AxisUnitToken, text) || hasMatch(CurrencyToken, text)
  }

  /** picture_kpi_extract.py:164-193 — KPI candidate text detector. */
  def isKpiText(text: String): Boolean = {
    if (text == null || text.length < 8) return false
    val numTokens = findAll(NumToken, text)
    if (numTokens.isEmpty) return false
    if (numTokens.length > 12) return false
    val hasCurrency = hasMatch(CurrencyToken, text)
    val hasPercent = text.contains("%")
    val hasKeyword = hasMatch(KeywordToken, text)
    val alphaTokens = findAll(AlphaTok, text)
    if (alphaTokens.isEmpty) return false
    val nonCurrency = alphaTokens.filterNot(t => CurrencyWords.contains(t.toLowerCase(java.util.Locale.ROOT)))
    if (nonCurrency.isEmpty) return false
    if (isAxisLikePicture(text)) return false
    if (!(hasCurrency || hasPercent || hasKeyword)) return false
    if (text.length > 300) return false
    if (text.count(_ == '\n') > 8) return false
    true
  }

  private val WsRun = re("\\s+")
  private val WsBeforePunct = re("\\s+([,.;:%])")
  private val ParenOpenWs = re("\\(\\s+")
  private val WsParenClose = re("\\s+\\)")
  private val MilRon = reI("(\\b\\d[\\d.,]*\\s*mil\\.?)\\s+ron\\b")
  /** picture_kpi_extract.py:122-134 — join multi-line caption, tighten
    * punctuation. Each substitution runs only where its pattern can match:
    * a `\s` run that is not one ' ', a `\s` before `,.;:%`, a `(` before or
    * a `)` after a `\s`, and an ASCII "ron" (no other char folds to r, o or
    * n). */
  def normalizeKpiCaption(text: String): String = {
    val lines = splitLines(text).map(_.strip()).filter(_.nonEmpty)
    if (lines.isEmpty) return ""
    var joined = lines.mkString(" ")
    var wsRun, wsPunct, parenWs, wsParen = false
    var i = 0
    while (i < joined.length) {
      val c = joined.charAt(i)
      if (isUniWs(c)) {
        val next = if (i + 1 < joined.length) joined.charAt(i + 1) else 'x'
        if (c != ' ' || isUniWs(next)) wsRun = true
        if (",.;:%".indexOf(next) >= 0) wsPunct = true
        if (next == ')') wsParen = true
        if (i > 0 && joined.charAt(i - 1) == '(') parenWs = true
      }
      i += 1
    }
    if (wsRun) joined = sub(WsRun, " ", joined)
    joined = joined.strip()
    if (wsPunct) joined = sub(WsBeforePunct, "$1", joined)
    if (parenWs) joined = sub(ParenOpenWs, "(", joined)
    if (wsParen) joined = sub(WsParenClose, ")", joined)
    if (containsRon(joined)) joined = sub(MilRon, "RON $1", joined)
    joined
  }

  private def containsRon(s: String): Boolean = {
    var i = 0
    while (i + 3 <= s.length) {
      if ((s.charAt(i) | 0x20) == 'r' && (s.charAt(i + 1) | 0x20) == 'o' && (s.charAt(i + 2) | 0x20) == 'n')
        return true
      i += 1
    }
    false
  }

  /** Geometry shared by the spatial semi-joins
    * (table_fixes.py:285-298, date_cleanup.py:27-47). */
  def bboxArea(l: Double, t: Double, r: Double, b: Double): Double =
    math.max(0.0, r - l) * math.max(0.0, b - t)

  def bboxIntersectionArea(al: Double, at: Double, ar: Double, ab: Double,
                           bl: Double, bt: Double, br: Double, bb: Double): Double = {
    val left = math.max(al, bl)
    val right = math.min(ar, br)
    val top = math.max(at, bt)
    val bottom = math.min(ab, bb)
    math.max(0.0, right - left) * math.max(0.0, bottom - top)
  }

  /** date_cleanup.py:43-47 — overlap as fraction of the first bbox. */
  def overlapRatio(al: Double, at: Double, ar: Double, ab: Double,
                   bl: Double, bt: Double, br: Double, bb: Double): Double = {
    val areaA = bboxArea(al, at, ar, ab)
    if (areaA <= 0) 0.0
    else bboxIntersectionArea(al, at, ar, ab, bl, bt, br, bb) / areaA
  }
}
