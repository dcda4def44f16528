package graft.textkit

import Py._
import java.util.Locale

/** Markdown-level structural post-processing, applied in the exact order of
  * the reference pipeline (conversion_utils.py:276-284): visible page markers
  * -> noise reduction -> KPI blocks -> orphan headings -> axis lines.
  *
  * Each pass is a `String => String` over index ranges of its one input:
  * it finds the pages (the text between page-break placeholders) and, in
  * each page, the lines or blank-line-separated blocks as [start, end)
  * offsets, and tests a line on its stripped range, with scanners or a
  * Matcher region rather than a substring. What it keeps goes, as ranges,
  * into one output buffer presized from the input, with the page joins
  * written in place; the input is not split into parts and nothing kept is
  * copied twice. A pass that keeps a prefix of its input unchanged returns
  * the input (or that prefix) without copying it.
  *
  * Semantics derived from
  * /root/reference/src/pdf_to_markdown_docling/export_utils.py:11-379.
  */
object MarkdownPost {
  val PageBreakPlaceholder = "<!-- page break -->"

  /** A first-of-page heading counts as repeated when it opens at least
    * MinRepeatedHeadingCount pages and at least RepeatedHeadingRatio of all
    * pages (export_utils.py:88-166, the reference's defaults). */
  private val RepeatedHeadingRatio = 0.3
  private val MinRepeatedHeadingCount = 3

  private val HtmlPageMarker = "<!--\\s*page:\\s*(\\d+)\\s*-->"
  private val MdPageMarker = "\\[//\\]:\\s*#\\s*\\(\\s*page:\\s*(\\d+)\\s*\\)"
  private val VisiblePageMarker = "\\*\\*\\s*\\[page(?::)?\\s*\\d+\\]\\s*\\*\\*"
  private val PageMarkerPattern = reI(s"(?:$HtmlPageMarker|$MdPageMarker|$VisiblePageMarker)")
  private val HeadingPattern = re("^(#{1,6})\\s+(.+?)\\s*$")
  private val KpiUnitPattern = reI("\\b(?:RON|EUR|USD|LEI|MIL\\.?)\\b")
  private val KpiValueHintPattern = reI("\\bvs\\b|%|\\d")

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

  private val PageJoin = s"\n\n$PageBreakPlaceholder\n\n"

  private def normalizeHeading(text: String): String =
    joinSplit(text).toLowerCase(Locale.ROOT)

  // ---- pages and lines as index ranges of the input ------------------------
  // A pass reads its input's pages (`split(PageBreakPlaceholder, -1)`) and
  // the lines of each page (`splitLines(page)`, looked at as `line.strip()`)
  // as index ranges of the one input string, and writes what it keeps to an
  // [[Out]]: a kept line or block is appended as a range, never copied out
  // first.

  /** Index of the first placeholder at or after `from`, or -1: a scan for
    * its first char, which few other places hold. */
  private def placeholderFrom(s: String, from: Int): Int = {
    var p = s.indexOf('<', from)
    while (p >= 0 && !s.startsWith(PageBreakPlaceholder, p)) p = s.indexOf('<', p + 1)
    p
  }

  /** End of the page that starts at `a`: the next placeholder, or the end. */
  private def pageEnd(s: String, a: Int): Int = {
    val p = placeholderFrom(s, a)
    if (p < 0) s.length else p
  }

  /** The pages of `s` as [starts(k), ends(k)) at (2k, 2k + 1), in one scan. */
  private def pageBounds(s: String): Array[Int] = {
    var bounds = new Array[Int](16)
    var pages = 0
    var a = 0
    while (a <= s.length) {
      val b = pageEnd(s, a)
      if (2 * pages + 2 > bounds.length) bounds = java.util.Arrays.copyOf(bounds, 2 * bounds.length)
      bounds(2 * pages) = a
      bounds(2 * pages + 1) = b
      pages += 1
      a = b + PageBreakPlaceholder.length
    }
    java.util.Arrays.copyOf(bounds, 2 * pages)
  }

  /** A pass's result, appended in order to one buffer presized from the
    * input. While the output is still a prefix of the input (each range
    * appended so far starts where the last one ended, and each literal is
    * what the input holds there), nothing is copied, and the result is the
    * input or a prefix of it. A char buffer takes ranges of a UTF-16 input
    * as array copies, where a Latin-1 StringBuilder would widen itself
    * char by char. */
  private final class Out(src: String, extra: Int) {
    private var buf: Array[Char] = null
    private var n = 0 // the output's length; it is src[0, n) while buf == null

    private def room(more: Int): Array[Char] = {
      if (buf == null) {
        buf = new Array[Char](math.max(src.length + extra, n + more))
        src.getChars(0, n, buf, 0)
      } else if (n + more > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(2 * buf.length, n + more))
      buf
    }

    def range(a: Int, b: Int): Unit =
      if (a < b) {
        if (buf == null && a == n) n = b
        else {
          src.getChars(a, b, room(b - a), n)
          n += b - a
        }
      }

    def text(t: String): Unit =
      if (t.nonEmpty) {
        if (buf == null && src.startsWith(t, n)) n += t.length
        else {
          t.getChars(0, t.length, room(t.length), n)
          n += t.length
        }
      }

    def char(c: Char): Unit =
      if (buf == null && n < src.length && src.charAt(n) == c) n += 1
      else {
        room(1)(n) = c
        n += 1
      }

    def length: Int = n

    /** `replaceAll("\\s+$", "")` with ASCII `\s`, on the output from
      * `from` on: a trailing run of ASCII whitespace goes, or, when the
      * output ends with a line terminator that is not ASCII whitespace
      * (U+0085, U+2028, U+2029), the run in front of it, since `$` also
      * matches before a final line terminator. */
    def cutTrailingWs(from: Int): Unit =
      if (n > from) {
        val last = charAt(n - 1)
        if (asciiWs(last)) n = wsRunStart(from, n)
        else if (last == '\u0085' || last == '\u2028' || last == '\u2029') {
          val w = wsRunStart(from, n - 1)
          if (w < n - 1) { n = w; char(last) }
        }
      }

    private def asciiWs(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

    private def wsRunStart(from: Int, end: Int): Int = {
      var w = end
      while (w > from && asciiWs(charAt(w - 1))) w -= 1
      w
    }

    private def charAt(i: Int): Char = if (buf == null) src.charAt(i) else buf(i)

    def result: String =
      if (buf != null) new String(buf, 0, n)
      else if (n == src.length) src
      else src.substring(0, n)
  }

  /** First index in [from, to) not stripped by String.strip, or `to`. */
  private def stripStart(s: String, from: Int, to: Int): Int = {
    var i = from
    while (i < to && Character.isWhitespace(s.charAt(i))) i += 1
    i
  }

  /** End of `s[from, to)` after String.strip's trailing cut. */
  private def stripEnd(s: String, from: Int, to: Int): Int = {
    var j = to
    while (j > from && Character.isWhitespace(s.charAt(j - 1))) j -= 1
    j
  }

  /** End of the lines `splitLines` yields for the page [from, to): one
    * final '\n' is dropped. */
  private def linesEnd(s: String, from: Int, to: Int): Int =
    if (to > from && s.charAt(to - 1) == '\n') to - 1 else to

  /** End of the line that starts at `a` (the page's lines cover [_, end)). */
  private def lineEnd(s: String, a: Int, end: Int): Int = {
    val b = s.indexOf('\n', a)
    if (b < 0 || b > end) end else b
  }

  /** Appends `splitLines(page).filter(keep).mkString("\n")` for the page
    * s[from, to), where `keep` gets each line as the range [a, b) and is
    * called in line order. */
  private def appendLines(out: Out, s: String, from: Int, to: Int)(keep: (Int, Int) => Boolean): Unit = {
    if (from == to) return
    val end = linesEnd(s, from, to)
    var emitted = false
    var a = from
    var more = true
    while (more) {
      val b = lineEnd(s, a, end)
      if (keep(a, b)) {
        if (emitted) out.char('\n')
        out.range(a, b)
        emitted = true
      }
      more = b < end
      a = b + 1
    }
  }

  /** Start of the stripped text of the first line in the page s[from, to)
    * that is not blank, an image placeholder or a page marker, or -1. */
  private def firstMeaningfulLine(s: String, from: Int, to: Int): Int = {
    if (from == to) return -1
    val end = linesEnd(s, from, to)
    var a = from
    while (a <= end) {
      val b = lineEnd(s, a, end)
      val sa = stripStart(s, a, b)
      if (sa < b) {
        val se = stripEnd(s, sa, b)
        if (!imagePlaceholderAt(s, sa, se) && !pageMarkerAt(s, sa, se)) return sa
      }
      a = b + 1
    }
    -1
  }

  /** End of the stripped line that starts at `sa` (a stripped start). */
  private def strippedLineEnd(s: String, sa: Int, to: Int): Int =
    stripEnd(s, sa, lineEnd(s, sa, to))

  /** export_utils.py:44-61 */
  def addVisiblePageMarkers(markdown: String): String = {
    val stripped = stripPageMarkers(markdown)
    val n = stripped.length
    if (placeholderFrom(stripped, 0) < 0) {
      if (stripped.isBlank) return stripped
      val a = stripStart(stripped, 0, n)
      val b = stripEnd(stripped, a, n)
      return new java.lang.StringBuilder(b - a + 16).append("**[Page 1]**\n\n")
        .append(stripped, a, b).toString
    }
    val out = new java.lang.StringBuilder(n + n / 8 + 64)
    var pageNo = 1
    var a = 0
    while (a <= n) {
      val b = pageEnd(stripped, a)
      val sa = stripStart(stripped, a, b)
      if (sa < b) {
        if (pageNo > 1) out.append(PageJoin)
        out.append("**[Page ").append(pageNo).append("]**\n\n").append(stripped, sa, stripEnd(stripped, sa, b))
        pageNo += 1
      }
      a = b + PageBreakPlaceholder.length
    }
    out.toString
  }

  /** export_utils.py:88-166 — repeated first-of-page heading removal. The
    * first headings are looked for only when there is more than one page:
    * with one page no heading can repeat. */
  def reduceMarkdownNoise(markdown: String, removeImagePlaceholders: Boolean = false): String = {
    if (markdown.isBlank) return markdown
    val bounds = pageBounds(markdown)
    val totalPages = bounds.length / 2

    // the normalized first heading of each page, or null
    val headingKeys = new Array[String](totalPages)
    var frequent: Set[String] = Set.empty
    if (totalPages > 1) {
      val counts = scala.collection.mutable.Map.empty[String, Int]
      var k = 0
      while (k < totalPages) {
        val sa = firstMeaningfulLine(markdown, bounds(2 * k), bounds(2 * k + 1))
        if (sa >= 0) {
          val m = headingAt(markdown, sa, strippedLineEnd(markdown, sa, bounds(2 * k + 1)))
          if (m != null) {
            val key = normalizeHeading(m.group(2))
            headingKeys(k) = key
            counts(key) = counts.getOrElse(key, 0) + 1
          }
        }
        k += 1
      }
      val threshold = math.max(MinRepeatedHeadingCount,
        (totalPages * RepeatedHeadingRatio + 0.999).toInt)
      frequent = counts.filter(_._2 >= threshold).keySet.toSet
    }

    val keptOnce = scala.collection.mutable.Set.empty[String]
    val out = new Out(markdown, 8 * totalPages)
    var k = 0
    while (k < totalPages) {
      if (k > 0) out.text(PageJoin)
      val headingKey = headingKeys(k)
      val repeated = headingKey != null && frequent.contains(headingKey)
      var removedHeading = false
      appendLines(out, markdown, bounds(2 * k), bounds(2 * k + 1)) { (a, b) =>
        val sa = stripStart(markdown, a, b)
        if (sa == b) true
        else if (removeImagePlaceholders && imageLead(markdown.charAt(sa)) &&
            imagePlaceholderAt(markdown, sa, stripEnd(markdown, sa, b))) false
        else if (!removedHeading && repeated && markdown.charAt(sa) == '#') {
          val m = headingAt(markdown, sa, stripEnd(markdown, sa, b))
          if (m != null && normalizeHeading(m.group(2)) == headingKey) {
            if (keptOnce.contains(headingKey)) { removedHeading = true; false }
            else { keptOnce += headingKey; true }
          } else true
        } else true
      }
      k += 1
    }
    out.result
  }

  private def lookingAt(p: java.util.regex.Pattern, s: String): Boolean =
    p.matcher(s).lookingAt()

  // Range forms of the line checks. A Matcher region reads s[a, b) as the
  // regex would read the substring: its bounds are anchoring and opaque.
  // Every alternative of PageMarkerPattern starts with a literal '<', '['
  // or '*' and HeadingPattern with a literal '#', so a plain text line
  // skips both regexes on one char compare.

  private def pageMarkerAt(s: String, a: Int, b: Int): Boolean = a < b && {
    val c = s.charAt(a)
    (c == '<' || c == '[' || c == '*') && PageMarkerPattern.matcher(s).region(a, b).lookingAt()
  }

  /** ImagePlaceholderPattern (`^\s*<!--\s*image\s*-->\s*$`) on s[a, b): the
    * `\s` are Unicode White_Space, and every line terminator `$` may stand
    * before is one. */
  private def imagePlaceholderAt(s: String, a: Int, b: Int): Boolean = {
    var i = skipUniWs(s, a, b)
    if (b - i < 4 || !s.startsWith("<!--", i)) return false
    i = skipUniWs(s, i + 4, b)
    if (b - i < 5 || !s.startsWith("image", i)) return false
    i = skipUniWs(s, i + 5, b)
    if (b - i < 3 || !s.startsWith("-->", i)) return false
    skipUniWs(s, i + 3, b) == b
  }

  /** Whether a stripped line that starts with c can be an image
    * placeholder: c is its '<' or a `\s` that String.strip leaves. */
  private def imageLead(c: Char): Boolean = c == '<' || isUniWs(c)

  private def skipUniWs(s: String, from: Int, to: Int): Int = {
    var i = from
    while (i < to && isUniWs(s.charAt(i))) i += 1
    i
  }

  /** HeadingPattern's match on s[a, b), or null. */
  private def headingAt(s: String, a: Int, b: Int): java.util.regex.Matcher =
    if (a >= b || s.charAt(a) != '#') null
    else {
      val m = HeadingPattern.matcher(s).region(a, b)
      if (m.lookingAt()) m else null
    }

  private def maybePageMarker(s: String): Boolean = pageMarkerAt(s, 0, s.length)
  private def maybeImagePlaceholder(s: String): Boolean = imagePlaceholderAt(s, 0, s.length)
  private def headingMatch(s: String): Option[java.util.regex.Matcher] =
    Option(headingAt(s, 0, s.length))

  /** export_utils.py:169-182 — one allocation-free scan (round 6): newline,
    * token count (Py.split semantics), letter and uppercase counts all come
    * from a single pass; the heading regex runs last, on what passes the
    * rest. */
  def isKpiLabel(text: String): Boolean = {
    val stripped = text.strip()
    kpiLabelAt(stripped, 0, stripped.length)
  }

  /** isKpiLabel of s[from, to), a range String.strip leaves as it is. */
  private def kpiLabelAt(s: String, from: Int, to: Int): Boolean = {
    if (from >= to) return false
    var i = from
    var tokens = 0
    var inTok = false
    var letters = 0
    var upper = 0
    while (i < to) {
      val c = s.charAt(i)
      if (c == '\n') return false
      if (Py.isSplitWs(c)) inTok = false
      else {
        if (!inTok) {
          tokens += 1
          if (tokens > 5) return false
          inTok = true
        }
        if (Character.isLetter(c)) {
          letters += 1
          if (Character.isUpperCase(c)) upper += 1
        }
      }
      i += 1
    }
    if (letters == 0) return false
    if (upper.toDouble / letters < 0.7) return false
    headingAt(s, from, to) == null
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

  /** export_utils.py:223-260 — greedy KPI label+value merge. The
    * `\n{2,}` split is a scan for "\n\n" that skips the rest of the run;
    * each page's stripped, non-blank blocks are index ranges, and only the
    * candidate values that follow a label are copied out. */
  def normalizeKpiBlocks(markdown: String): String = {
    if (markdown.isBlank) return markdown
    val n = markdown.length
    val out = new Out(markdown, 16)
    // the current page's blocks as [bounds(2k), bounds(2k + 1))
    var bounds = new Array[Int](32)
    var pa = 0
    while (pa <= n) {
      val pb = pageEnd(markdown, pa)
      if (pa > 0) out.text(PageJoin)
      var blocks = 0
      var a = pa
      while (a <= pb) {
        var b = markdown.indexOf("\n\n", a)
        if (b < 0 || b > pb - 2) b = pb
        val sa = stripStart(markdown, a, b)
        if (sa < b) {
          if (2 * blocks + 2 > bounds.length) bounds = java.util.Arrays.copyOf(bounds, 2 * bounds.length)
          bounds(2 * blocks) = sa
          bounds(2 * blocks + 1) = stripEnd(markdown, sa, b)
          blocks += 1
        }
        a = b
        while (a < pb && markdown.charAt(a) == '\n') a += 1
        if (b == pb) a = pb + 1
      }
      var i = 0
      while (i < blocks) {
        if (i > 0) out.text("\n\n")
        out.range(bounds(2 * i), bounds(2 * i + 1))
        var consumed = 1
        if (kpiLabelAt(markdown, bounds(2 * i), bounds(2 * i + 1))) {
          var stop = false
          while (!stop && consumed < 3 && i + consumed < blocks) {
            val k = i + consumed
            val candidate = markdown.substring(bounds(2 * k), bounds(2 * k + 1))
            if (isKpiValue(candidate)) {
              out.char(' ')
              out.text(joinSplit(candidate))
              consumed += 1
            } else stop = true
          }
        }
        i += consumed
      }
      pa = pb + PageBreakPlaceholder.length
    }
    out.result
  }

  /** export_utils.py:263-279 */
  def isAxisLikeLine(text: String): Boolean = {
    val a = stripStart(text, 0, text.length)
    axisLikeAt(text, a, stripEnd(text, a, text.length))
  }

  /** isAxisLikeLine of s[from, to), a range String.strip leaves as it is,
    * in one scan with no regex. The allowed class `^[0-9A-Za-z%./+\-\s]+$`
    * admits only ASCII letters and digits, `%./+-` and `\s`, so a line it
    * admits has a digit exactly when it has an ASCII one, and its word
    * tokens (`[A-Za-z0-9%]+`) are the maximal runs of ASCII letters, digits
    * and `%`. Such a token holds no `.` or `,`, so the case-insensitive
    * token pattern `^(?:\d{1,4}(?:[.,]\d+)?%?|[12]\d{3}|Q[1-4]|9L|L9|mil|mil\.|RON|EUR|USD|LEI)$`
    * matches it exactly when it is 1-4 digits with at most one `%` after
    * them, or one of [[AxisWords]]. */
  private def axisLikeAt(s: String, from: Int, to: Int): Boolean = {
    if (from >= to || to - from > 40) return false
    var tokens = 0
    var numeric = 0
    var allAxis = true
    var i = from
    while (i < to) {
      val c = s.charAt(i)
      if (axisWordChar(c)) {
        val t = i
        var digits = false
        while (i < to && axisWordChar(s.charAt(i))) {
          if (s.charAt(i) >= '0' && s.charAt(i) <= '9') digits = true
          i += 1
        }
        tokens += 1
        if (digits) numeric += 1
        if (allAxis && !axisToken(s, t, i)) allAxis = false
      } else if (c == '.' || c == '/' || c == '+' || c == '-' || isUniWs(c)) i += 1
      else return false
    }
    if (numeric == 0 || tokens > 6) return false
    allAxis || (numeric >= tokens - 1 && to - from <= 20)
  }

  private def axisWordChar(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') || c == '%'

  private val AxisWords = Array("q1", "q2", "q3", "q4", "9l", "l9", "mil", "ron", "eur", "usd", "lei")

  /** The token pattern's full match of the token s[from, to). */
  private def axisToken(s: String, from: Int, to: Int): Boolean = {
    var d = from
    while (d < to && s.charAt(d) >= '0' && s.charAt(d) <= '9') d += 1
    if (d > from && d - from <= 4 && (d == to || (d + 1 == to && s.charAt(d) == '%'))) return true
    var k = 0
    while (k < AxisWords.length &&
        !(AxisWords(k).length == to - from && s.regionMatches(true, from, AxisWords(k), 0, to - from))) k += 1
    k < AxisWords.length
  }

  /** export_utils.py:282-319. The reference keeps a page marker, an image
    * placeholder, a heading or a line with a '|' before it asks
    * isAxisLikeLine; none of those can be axis-like (each holds a char
    * outside the axis alphabet), so that one test decides. */
  def removeAxisLikeLines(markdown: String): String = {
    if (markdown.isBlank) return markdown
    val n = markdown.length
    val out = new Out(markdown, 16)
    var pa = 0
    while (pa <= n) {
      val pb = pageEnd(markdown, pa)
      if (pa > 0) out.text(PageJoin)
      appendLines(out, markdown, pa, pb) { (a, b) =>
        val sa = stripStart(markdown, a, b)
        !axisLikeAt(markdown, sa, stripEnd(markdown, sa, b))
      }
      pa = pb + PageBreakPlaceholder.length
    }
    out.result
  }

  /** export_utils.py:322-379 — drop page-final headings with no follow-up.
    * Each page's last non-blank line is found by scanning back from its end;
    * a page is copied out only when that line is a heading to drop. */
  def removeOrphanHeadings(markdown: String): String = {
    if (markdown.isBlank) return markdown
    val bounds = pageBounds(markdown)
    val pages = bounds.length / 2

    def nextMeaningfulLine(startIndex: Int): Option[String] = {
      var k = startIndex
      while (k < pages) {
        val sa = firstMeaningfulLine(markdown, bounds(2 * k), bounds(2 * k + 1))
        if (sa >= 0) return Some(markdown.substring(sa, strippedLineEnd(markdown, sa, bounds(2 * k + 1))))
        k += 1
      }
      None
    }

    val out = new Out(markdown, 8 * pages)
    var k = 0
    while (k < pages) {
      if (k > 0) out.text(PageJoin)
      val a = bounds(2 * k)
      val b = bounds(2 * k + 1)
      // the last line of splitLines(page) that is not blank: [ls, le)
      val end = linesEnd(markdown, a, b)
      var le = end
      var ls = math.max(markdown.lastIndexOf('\n', le - 1) + 1, a)
      while (ls > a && stripStart(markdown, ls, le) == le) {
        le = ls - 1
        ls = math.max(markdown.lastIndexOf('\n', le - 1) + 1, a)
      }
      val sa = stripStart(markdown, ls, le)
      val m = headingAt(markdown, sa, stripEnd(markdown, sa, le))
      if (m == null) out.range(a, b)
      else {
        val headingLevel = m.end(1) - m.start(1)
        val orphan = nextMeaningfulLine(k + 1) match {
          case None => true
          case Some(nextLine) =>
            headingMatch(nextLine).exists(_.group(1).length <= headingLevel) ||
              isHeadingLikeLine(nextLine)
        }
        // the lines joined with that one emptied, then the trailing ASCII
        // whitespace cut
        if (orphan) {
          val from = out.length
          out.range(a, ls)
          out.range(le, end)
          out.cutTrailingWs(from)
        } else out.range(a, b)
      }
      k += 1
    }
    out.result
  }

  /** audit_utils.py:336-343 */
  def splitMarkdownPages(markdown: String): List[String] = {
    if (!markdown.contains(PageBreakPlaceholder)) return List(markdown)
    splitLiteral(markdown, PageBreakPlaceholder).toList
      .map(_.strip()).filter(_.nonEmpty)
  }

  /** audit_utils.py:214-215 */
  def markdownHeadingCount(markdown: String): Int =
    splitLines(markdown).count(_.stripLeading().startsWith("#"))

  /** audit_utils.py:218-227 */
  def markdownTableCount(markdown: String): Int = {
    val lines = splitLines(markdown)
    var count = 0
    for (i <- 1 until lines.length) {
      if (lines(i - 1).contains("|")) {
        val line = lines(i).strip()
        if (line.startsWith("|") && line.contains("---")) count += 1
      }
    }
    count
  }
}
