package graft.textkit

import Py._

/** Whitespace normalization for text items.
  * Semantics derived from
  * /root/reference/src/pdf_to_markdown_docling/whitespace_fix.py:11-20.
  */
object Whitespace {
  // The two substitutions of whitespace_fix.py, `(?<=\S)[ \t]{2,}(?=\S)` ->
  // " " and `\b([A-Z])\s+([A-Z])\b$` -> "$1/$2" (Unicode \S, \s and \b), as
  // scanners: a run of spaces and tabs can match the first only as a whole,
  // and the second can match only where its last letter ends the text.

  def normalizeTextWhitespace(text: String): String =
    restoreTrailingRatio(collapseInnerSpaces(text))

  private def spaceOrTab(c: Char): Boolean = c == ' ' || c == '\t'

  /** Each maximal run of 2 or more spaces and tabs with a char that is not
    * `\s` on both sides becomes one space. (No surrogate is `\s`, so the
    * char next to the run decides for its whole code point.) */
  private def collapseInnerSpaces(text: String): String = {
    var sb: java.lang.StringBuilder = null
    var last = 0
    var i = 1
    while (i < text.length) {
      if (spaceOrTab(text.charAt(i)) && !isUniWs(text.charAt(i - 1))) {
        var e = i
        while (e < text.length && spaceOrTab(text.charAt(e))) e += 1
        if (e - i >= 2 && e < text.length && !isUniWs(text.charAt(e))) {
          if (sb == null) sb = new java.lang.StringBuilder(text.length)
          sb.append(text, last, i).append(' ')
          last = e
        }
        i = e
      } else i += 1
    }
    if (sb == null) text else sb.append(text, last, text.length).toString
  }

  /** Restore ratio notation when OCR drops the slash ("A B" -> "A/B"):
    * without MULTILINE, `$` also matches just before one final line
    * terminator, so the last letter is looked for there too, the `\s+`
    * run must end right before it, and the first letter must start a word. */
  private def restoreTrailingRatio(s: String): String = {
    var j = s.length - 1
    if (j < 0) return s
    val c = s.charAt(j)
    if (c == '\n' || c == '\r' || c == '\u0085' || c == '\u2028' || c == '\u2029') {
      if (c == '\n' && j > 0 && s.charAt(j - 1) == '\r') j -= 2 else j -= 1
      if (j < 0) return s
    }
    if (!upper(s.charAt(j))) return s
    var k = j
    while (k > 0 && isUniWs(s.charAt(k - 1))) k -= 1
    if (k == j || k == 0 || !upper(s.charAt(k - 1)) || isUniWordBefore(s, k - 1)) return s
    new java.lang.StringBuilder(s.length).append(s, 0, k).append('/').append(s, j, s.length).toString
  }

  private def upper(c: Char): Boolean = c >= 'A' && c <= 'Z'
}
