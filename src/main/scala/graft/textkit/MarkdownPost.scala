package graft.textkit

import Py._
import java.util.Locale

/** Markdown-level structural post-processing, applied in the exact order of
  * the reference pipeline (conversion_utils.py:276-284): visible page markers
  * -> noise reduction -> KPI blocks -> orphan headings -> axis lines.
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
  private val ImagePlaceholderPattern = re("^\\s*<!--\\s*image\\s*-->\\s*$")
  private val HeadingPattern = re("^(#{1,6})\\s+(.+?)\\s*$")
  private val KpiUnitPattern = reI("\\b(?:RON|EUR|USD|LEI|MIL\\.?)\\b")
  private val KpiValueHintPattern = reI("\\bvs\\b|%|\\d")
  private val AxisAllowedPattern = re("^[0-9A-Za-z%./+\\-\\s]+$")
  private val AxisTokenPattern = reI("^(?:\\d{1,4}(?:[.,]\\d+)?%?|[12]\\d{3}|Q[1-4]|9L|L9|mil|mil\\.|RON|EUR|USD|LEI)$")
  private val AxisWordToken = re("[A-Za-z0-9%]+")
  // ASCII \s (no UNICODE_CHARACTER_CLASS), as String.replaceAll compiled it
  private val TrailingWs = java.util.regex.Pattern.compile("\\s+$")

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

  /** The page parts a pass works on (the markdown itself when it has no
    * page break). */
  private def pagesOf(markdown: String): Array[String] =
    splitLiteral(markdown, PageBreakPlaceholder)

  /** Inverse of [[pagesOf]] on a pass's cleaned parts; a single part is
    * returned as it is, not copied. */
  private def joinPages(parts: Array[String]): String =
    if (parts.length == 1) parts(0) else parts.mkString(PageJoin)

  private def normalizeHeading(text: String): String =
    joinSplit(text).toLowerCase(Locale.ROOT)

  // ---- line scanning over index ranges ------------------------------------
  // The passes look at `line.strip()` of each line of `splitLines(part)`;
  // the helpers below give the same lines and stripped bounds as indices, so
  // a line is copied only when a check needs it as a String.

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

  /** End of the lines `splitLines(part)` yields: one final '\n' is dropped. */
  private def linesEnd(part: String): Int =
    if (part.nonEmpty && part.charAt(part.length - 1) == '\n') part.length - 1 else part.length

  /** End of the line that starts at `a` (lines cover [0, end)). */
  private def lineEnd(part: String, a: Int, end: Int): Int = {
    val b = part.indexOf('\n', a)
    if (b < 0 || b > end) end else b
  }

  /** `splitLines(part).filter(keep).mkString("\n")`, where `keep` gets each
    * line as the range [a, b) and is called in line order. When every line
    * is kept the result is the part less one final '\n', with no copy of
    * the lines. */
  private def filterLines(part: String)(keep: (Int, Int) => Boolean): String = {
    if (part.isEmpty) return part
    val end = linesEnd(part)
    var sb: java.lang.StringBuilder = null
    var emitted = 0
    var lines = 0
    var a = 0
    var more = true
    while (more) {
      val b = lineEnd(part, a, end)
      if (keep(a, b)) {
        if (sb != null) {
          if (emitted > 0) sb.append('\n')
          sb.append(part, a, b)
        }
        emitted += 1
      } else if (sb == null) {
        // every earlier line was kept: they are part[0, a - 1)
        sb = new java.lang.StringBuilder(part.length)
        if (lines > 0) sb.append(part, 0, a - 1)
      }
      lines += 1
      more = b < end
      a = b + 1
    }
    if (sb != null) sb.toString
    else if (end == part.length) part
    else part.substring(0, end)
  }

  /** The stripped text of the first line in `part` that is not blank, an
    * image placeholder or a page marker, or null. */
  private def firstMeaningfulLine(part: String): String = {
    if (part.isEmpty) return null
    val end = linesEnd(part)
    var a = 0
    while (a <= end) {
      val b = lineEnd(part, a, end)
      val sa = stripStart(part, a, b)
      if (sa < b) {
        val c = part.charAt(sa)
        val s = part.substring(sa, stripEnd(part, sa, b))
        if (!(imageLead(c) && maybeImagePlaceholder(s)) && !maybePageMarker(s)) return s
      }
      a = b + 1
    }
    null
  }

  /** export_utils.py:44-61 */
  def addVisiblePageMarkers(markdown: String): String = {
    val stripped = stripPageMarkers(markdown)
    if (!stripped.contains(PageBreakPlaceholder)) {
      if (stripped.isBlank) return stripped
      return s"**[Page 1]**\n\n${stripped.strip()}"
    }
    val parts = splitLiteral(stripped, PageBreakPlaceholder).map(_.strip())
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var pageNo = 1
    for (part <- parts if part.nonEmpty) {
      out += s"**[Page $pageNo]**\n\n$part"
      pageNo += 1
    }
    out.mkString(PageJoin)
  }

  /** export_utils.py:88-166 — repeated first-of-page heading removal. */
  def reduceMarkdownNoise(markdown: String, removeImagePlaceholders: Boolean = false): String = {
    if (markdown.isBlank) return markdown
    val rawParts = pagesOf(markdown)

    val firstHeadings: Array[Option[String]] = rawParts.map { part =>
      val s = firstMeaningfulLine(part)
      if (s == null) None else headingMatch(s).map(_.group(2))
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
        val threshold = math.max(MinRepeatedHeadingCount,
          (totalPages * RepeatedHeadingRatio + 0.999).toInt)
        counts.filter(_._2 >= threshold).keySet.toSet
      }

    val keptOnce = scala.collection.mutable.Set.empty[String]
    val cleanedParts = rawParts.zip(firstHeadings).map { case (part, headingOpt) =>
      val headingKey = headingOpt.map(normalizeHeading).orNull
      val repeated = headingKey != null && frequent.contains(headingKey)
      var removedHeading = false
      filterLines(part) { (a, b) =>
        val sa = stripStart(part, a, b)
        if (sa == b) true
        else {
          val c = part.charAt(sa)
          if (removeImagePlaceholders && imageLead(c) &&
              maybeImagePlaceholder(part.substring(sa, stripEnd(part, sa, b)))) false
          else if (!removedHeading && repeated && c == '#') {
            headingMatch(part.substring(sa, stripEnd(part, sa, b))) match {
              case Some(m) if normalizeHeading(m.group(2)) == headingKey =>
                if (keptOnce.contains(headingKey)) { removedHeading = true; false }
                else { keptOnce += headingKey; true }
              case _ => true
            }
          } else true
        }
      }
    }

    joinPages(cleanedParts)
  }

  private def lookingAt(p: java.util.regex.Pattern, s: String): Boolean =
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
  private def imageLead(c: Char): Boolean = c == '<' || c < '!' || c > '~'
  private def maybeImagePlaceholder(s: String): Boolean =
    s.nonEmpty && imageLead(s.charAt(0)) && lookingAt(ImagePlaceholderPattern, s)
  private def headingMatch(s: String): Option[java.util.regex.Matcher] =
    if (s.isEmpty || s.charAt(0) != '#') None else matchAt(HeadingPattern, s)

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
        if (!inTok) { tokens += 1; inTok = true }
        if (Character.isLetter(c)) {
          letters += 1
          if (Character.isUpperCase(c)) upper += 1
        }
      }
      i += 1
    }
    if (tokens > 5) return false
    if (letters == 0) return false
    if (upper.toDouble / letters < 0.7) return false
    !(s.charAt(from) == '#' && lookingAt(HeadingPattern, s.substring(from, to)))
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
    * `\n{2,}` split is a scan for "\n\n" that skips the rest of the run, and
    * blocks are index ranges: only labels and their candidate values are
    * copied out. */
  def normalizeKpiBlocks(markdown: String): String = {
    if (markdown.isBlank) return markdown
    val rawParts = pagesOf(markdown)

    val cleanedParts = rawParts.map { part =>
      // the stripped, non-blank blocks as [starts(k), ends(k))
      val starts = Array.newBuilder[Int]
      val ends = Array.newBuilder[Int]
      val n = part.length
      var a = 0
      while (a <= n) {
        var b = part.indexOf("\n\n", a)
        if (b < 0) b = n
        val sa = stripStart(part, a, b)
        if (sa < b) { starts += sa; ends += stripEnd(part, sa, b) }
        a = b
        while (a < n && part.charAt(a) == '\n') a += 1
        if (b == n) a = n + 1
      }
      val bs = starts.result()
      val be = ends.result()
      def block(k: Int) = part.substring(bs(k), be(k))
      val out = new java.lang.StringBuilder(n)
      var i = 0
      while (i < bs.length) {
        if (out.length > 0) out.append("\n\n")
        out.append(part, bs(i), be(i))
        var consumed = 1
        if (kpiLabelAt(part, bs(i), be(i))) {
          var stop = false
          while (!stop && consumed < 3 && i + consumed < bs.length) {
            val candidate = block(i + consumed)
            if (isKpiValue(candidate)) {
              out.append(' ').append(joinSplit(candidate))
              consumed += 1
            } else stop = true
          }
        }
        i += consumed
      }
      out.toString
    }

    joinPages(cleanedParts)
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

  /** export_utils.py:282-319 — a line is dropped only if isAxisLikeLine
    * holds, which needs at most 40 chars and a digit; other lines are kept
    * without being copied out. */
  def removeAxisLikeLines(markdown: String): String = {
    if (markdown.isBlank) return markdown
    val rawParts = pagesOf(markdown)

    val cleanedParts = rawParts.map { part =>
      filterLines(part) { (a, b) =>
        val sa = stripStart(part, a, b)
        val sb = stripEnd(part, sa, b)
        if (sb - sa > 40 || !hasDigit(part, sa, sb)) true
        else {
          val s = part.substring(sa, sb)
          if (maybePageMarker(s)) true
          else if (maybeImagePlaceholder(s)) true
          else if (s.charAt(0) == '#' && lookingAt(HeadingPattern, s)) true
          else if (s.contains("|")) true
          else !isAxisLikeLine(s)
        }
      }
    }

    joinPages(cleanedParts)
  }

  private def hasDigit(s: String, from: Int, to: Int): Boolean = {
    var i = from
    while (i < to) {
      if (Character.isDigit(s.charAt(i))) return true
      i += 1
    }
    false
  }

  /** export_utils.py:322-379 — drop page-final headings with no follow-up.
    * Each part's last non-blank line is found by scanning back from its end;
    * a part is copied only when that line is a heading to drop. */
  def removeOrphanHeadings(markdown: String): String = {
    if (markdown.isBlank) return markdown
    val rawParts = pagesOf(markdown)

    def nextMeaningfulLine(startIndex: Int): Option[String] = {
      var pi = startIndex
      while (pi < rawParts.length) {
        val s = firstMeaningfulLine(rawParts(pi))
        if (s != null) return Some(s)
        pi += 1
      }
      None
    }

    val cleanedParts = rawParts.zipWithIndex.map { case (part, idx) =>
      // the last line of splitLines(part) that is not blank: [ls, le)
      val end = linesEnd(part)
      var le = end
      var ls = part.lastIndexOf('\n', le - 1) + 1
      while (ls > 0 && stripStart(part, ls, le) == le) {
        le = ls - 1
        ls = part.lastIndexOf('\n', le - 1) + 1
      }
      val sa = stripStart(part, ls, le)
      if (sa == le || part.charAt(sa) != '#') part
      else headingMatch(part.substring(sa, stripEnd(part, sa, le))) match {
        case Some(m) =>
          val headingLevel = m.group(1).length
          val orphan = nextMeaningfulLine(idx + 1) match {
            case None => true
            case Some(nextLine) =>
              headingMatch(nextLine).exists(_.group(1).length <= headingLevel) ||
                isHeadingLikeLine(nextLine)
          }
          // the lines joined with that one emptied, then the trailing ASCII
          // whitespace cut
          if (orphan)
            TrailingWs.matcher(part.substring(0, ls) + part.substring(le, end)).replaceAll("")
          else part
        case None => part
      }
    }

    joinPages(cleanedParts)
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
