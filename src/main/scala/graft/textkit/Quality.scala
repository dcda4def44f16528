package graft.textkit

/** Markdown quality scoring (backend auto-probe oracle).
  * Semantics derived from
  * /root/reference/src/pdf_to_markdown_docling/quality.py:17-53.
  */
object Quality {
  case class QualityReport(score: Int, shortLineCount: Int, repeatedLineCount: Int,
                           controlCharCount: Int)

  /** One scan over the lines of `text` (split on `\n`, each stripped as
    * `String.strip` does): a short line has at most 4 chars besides spaces
    * and a letter; a repeated line is a non-noise line of 6 or more chars
    * whose lower-cased form occurs 3 or more times; a control char is below
    * U+0020 and neither `\n` nor `\t`. */
  def scoreMarkdown(text: String): QualityReport = {
    val n = text.length
    var shortLines = 0
    var repeatedLines = 0
    var controlChars = 0
    var counts: java.util.HashMap[String, Integer] = null
    var start = 0
    while (start <= n) {
      var end = text.indexOf('\n', start)
      if (end < 0) end = n
      var lo = start
      var hi = end
      while (lo < hi && Character.isWhitespace(text.charAt(lo))) lo += 1
      while (hi > lo && Character.isWhitespace(text.charAt(hi - 1))) hi -= 1
      var spaces = 0
      var letter = false
      var ascii = true
      var upper = false
      var i = start
      while (i < end) {
        val c = text.charAt(i)
        if (c < ' ' && c != '\t') controlChars += 1
        if (i >= lo && i < hi) {
          if (c == ' ') spaces += 1
          else if (!letter && Character.isLetter(c)) letter = true
          if (c >= 0x80) ascii = false
          else if (c >= 'A' && c <= 'Z') upper = true
        }
        i += 1
      }
      val len = hi - lo
      if (len > 0 && len - spaces <= 4 && letter) shortLines += 1
      if (len >= 6 && !isNoiseLine(text, lo, hi)) {
        if (counts == null) counts = new java.util.HashMap[String, Integer]
        val key =
          if (!ascii) text.substring(lo, hi).toLowerCase(java.util.Locale.ROOT)
          else if (!upper) text.substring(lo, hi)
          else asciiLower(text, lo, hi)
        val seen = counts.get(key)
        val count = if (seen == null) 1 else seen + 1
        counts.put(key, count)
        if (count == 3) repeatedLines += 1
      }
      start = end + 1
    }
    val score = 100 - 5 * shortLines - 2 * repeatedLines - controlChars
    QualityReport(math.max(score, 0), shortLines, repeatedLines, controlChars)
  }

  /** text[from, to), all ASCII, lower-cased as `toLowerCase(Locale.ROOT)`
    * would. */
  private def asciiLower(text: String, from: Int, to: Int): String = {
    val a = new Array[Char](to - from)
    var i = from
    while (i < to) {
      val c = text.charAt(i)
      a(i - from) = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
      i += 1
    }
    new String(a)
  }

  /** The non-empty stripped line text[from, to) is a heading, an image or
    * a page-break marker. */
  private def isNoiseLine(text: String, from: Int, to: Int): Boolean =
    text.charAt(from) == '#' || startsWith(text, from, to, "<!-- image") ||
      startsWith(text, from, to, "<!-- page break")

  private def startsWith(text: String, from: Int, to: Int, prefix: String): Boolean =
    to - from >= prefix.length && text.startsWith(prefix, from)

  /** CLI report line (quality.py:56-63 — scripts/quality_report.py output). */
  def formatReport(r: QualityReport): String =
    s"score=${r.score} short_lines=${r.shortLineCount} " +
      s"repeated_lines=${r.repeatedLineCount} control_chars=${r.controlCharCount}"
}
