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
    var counts: LineCounts = null
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
      var i = start
      while (i < end) {
        val c = text.charAt(i)
        if (c < ' ' && c != '\t') controlChars += 1
        if (i >= lo && i < hi) {
          if (c == ' ') spaces += 1
          else if (!letter && Character.isLetter(c)) letter = true
          if (c >= 0x80) ascii = false
        }
        i += 1
      }
      val len = hi - lo
      if (len > 0 && len - spaces <= 4 && letter) shortLines += 1
      if (len >= 6 && !isNoiseLine(text, lo, hi)) {
        if (counts == null) counts = new LineCounts
        val count =
          if (ascii) counts.add(text, lo, hi)
          else {
            // toLowerCase can change a non-ASCII line's length, or a char
            // by its context (a final sigma): the key is its result
            val key = text.substring(lo, hi).toLowerCase(java.util.Locale.ROOT)
            counts.add(key, 0, key.length)
          }
        if (count == 3) repeatedLines += 1
      }
      start = end + 1
    }
    val score = 100 - 5 * shortLines - 2 * repeatedLines - controlChars
    QualityReport(math.max(score, 0), shortLines, repeatedLines, controlChars)
  }

  /** How often each lower-cased line occurs. A key is a range of a string
    * read with A-Z lower-cased: an ASCII line is its own range of the
    * markdown, so it needs no String of its own; any other line's key is
    * its `toLowerCase(Locale.ROOT)`, which holds no A-Z. Keys hash and
    * compare by the chars so read, so the two kinds meet where their
    * lower-cased forms are equal. Open addressing, linear probing. */
  private final class LineCounts {
    private var srcs = new Array[String](64)
    private var froms = new Array[Int](64)
    private var tos = new Array[Int](64)
    private var hashes = new Array[Int](64)
    private var counts = new Array[Int](64)
    private var size = 0

    private def lower(c: Char): Int = if (c >= 'A' && c <= 'Z') c + 32 else c

    /** One more occurrence of the key s[from, to); returns its count. */
    def add(s: String, from: Int, to: Int): Int = {
      var h = 0
      var i = from
      while (i < to) { h = 31 * h + lower(s.charAt(i)); i += 1 }
      val mask = srcs.length - 1
      var slot = (h ^ (h >>> 16)) & mask
      while (srcs(slot) != null) {
        if (hashes(slot) == h && same(slot, s, from, to)) {
          counts(slot) += 1
          return counts(slot)
        }
        slot = (slot + 1) & mask
      }
      put(slot, s, from, to, h, 1)
      size += 1
      if (2 * size > srcs.length) grow()
      1
    }

    private def same(slot: Int, s: String, from: Int, to: Int): Boolean = {
      val src = srcs(slot)
      val a = froms(slot)
      if (tos(slot) - a != to - from) return false
      var i = 0
      while (i < to - from) {
        if (lower(src.charAt(a + i)) != lower(s.charAt(from + i))) return false
        i += 1
      }
      true
    }

    private def put(slot: Int, s: String, from: Int, to: Int, h: Int, count: Int): Unit = {
      srcs(slot) = s; froms(slot) = from; tos(slot) = to; hashes(slot) = h; counts(slot) = count
    }

    private def grow(): Unit = {
      val (os, of, ot, oh, oc) = (srcs, froms, tos, hashes, counts)
      val cap = 2 * os.length
      srcs = new Array[String](cap); froms = new Array[Int](cap); tos = new Array[Int](cap)
      hashes = new Array[Int](cap); counts = new Array[Int](cap)
      var k = 0
      while (k < os.length) {
        if (os(k) != null) {
          var slot = (oh(k) ^ (oh(k) >>> 16)) & (cap - 1)
          while (srcs(slot) != null) slot = (slot + 1) & (cap - 1)
          put(slot, os(k), of(k), ot(k), oh(k), oc(k))
        }
        k += 1
      }
    }
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
