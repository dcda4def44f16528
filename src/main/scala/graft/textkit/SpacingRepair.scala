package graft.textkit

import Py._
import Predicates.{isSpacedText, needsSpacingFix, needsTableSpacingFix}
import Predicates.{LetterChars, RunonLetters, RunonMergedAlnum, WordToken}

/** Glyph-run spacing repair kernel: 1-D 2-means gap clustering, line
  * reconstruction, badness scoring and replacement-acceptance decisions.
  *
  * Semantics derived from
  * /root/reference/src/pdf_to_markdown_docling/pymupdf_spacing_fix.py:42-362.
  * This is the layout-parse core of the engine: operates on glyph arrays
  * carried in the row (no PDF I/O here), so it runs batched inside
  * mapPartitions at scale.
  */
object SpacingRepair {
  /** One positioned glyph (PDF text-space coordinates, top-left origin). */
  case class Glyph(c: String, x0: Double, y0: Double, x1: Double, y1: Double) {
    def width: Double = x1 - x0
    def height: Double = y1 - y0
    def yCenter: Double = (y0 + y1) / 2.0
  }

  private val NumericOnly = re("[0-9\\s.,/%()-]+")
  private val SuspiciousNumeric = re("^[.,]?\\d[.,]?$")
  private val TrailingAlpha = re(s"[$LetterChars]$$")
  private val AlphaToken = re(s"[$LetterChars]+")
  private val Vowels = "aeiouAEIOUăâîĂÂÎ".toSet

  /** The reconstruction's fixed ratios, the reference's defaults
    * (pymupdf_spacing_fix.py:138-208): a glyph starts a new line when its
    * y-center is more than LineRatio median glyph heights off the line's; a
    * gap is a word break past GapRatio median char widths when the 2-means
    * finds no split; a space glyph counts when at least SpaceWidthRatio
    * median char widths wide. */
  private val LineRatio = 0.6
  private val GapRatio = 0.35
  private val SpaceWidthRatio = 0.6

  /** The median, or 1.0 for no values: the reference's median default,
    * ahead of the 2-means in pymupdf_spacing_fix.py. */
  def medianOr(values: Seq[Double]): Double =
    if (values.isEmpty) 1.0 else median(values)

  /** pymupdf_spacing_fix.py:49-75 — Lloyd's k=2 over gap widths. */
  def gapThreshold(gaps: List[Double], medianCharWidth: Double, fallbackRatio: Double): Double = {
    if (gaps.length < 2) return medianCharWidth * fallbackRatio
    var c1 = gaps.min
    var c2 = gaps.max
    var cluster1: List[Double] = Nil
    var cluster2: List[Double] = Nil
    var iter = 0
    var converged = false
    while (iter < 8 && !converged) {
      cluster1 = gaps.filter(g => math.abs(g - c1) <= math.abs(g - c2))
      cluster2 = gaps.filter(g => math.abs(g - c1) > math.abs(g - c2))
      val newC1 = if (cluster1.nonEmpty) cluster1.sum / cluster1.length else c1
      val newC2 = if (cluster2.nonEmpty) cluster2.sum / cluster2.length else c2
      if (math.abs(newC1 - c1) < 1e-3 && math.abs(newC2 - c2) < 1e-3) converged = true
      c1 = newC1; c2 = newC2
      iter += 1
    }
    if (cluster1.isEmpty || cluster2.isEmpty) return medianCharWidth * fallbackRatio
    if (math.abs(c2 - c1) < medianCharWidth * 0.3) return medianCharWidth * fallbackRatio
    (c1 + c2) / 2.0
  }

  /** Cluster glyphs into visual lines by y-center tolerance
    * (pymupdf_spacing_fix.py:149-158). Returns lines in reading order, each
    * with its glyphs sorted by x. */
  def clusterLines(charsIn: Seq[Glyph]): Seq[Seq[Glyph]] = {
    if (charsIn.isEmpty) return Seq.empty
    val heights = charsIn.map(_.height)
    val lineTol = medianOr(heights) * LineRatio
    // stable sort by (yCenter, x0), mirroring Python list.sort on tuples
    val chars = charsIn.sortBy(g => (g.yCenter, g.x0))
    final class Line(val y: Double) {
      val glyphs = scala.collection.mutable.ArrayBuffer.empty[Glyph]
    }
    val lines = scala.collection.mutable.ArrayBuffer.empty[Line]
    for (g <- chars) {
      if (lines.isEmpty || math.abs(g.yCenter - lines.last.y) > lineTol)
        lines += new Line(g.yCenter)
      lines.last.glyphs += g
    }
    lines.map(_.glyphs.sortBy(_.x0).toSeq).toSeq
  }

  /** Assemble one visual line: 2-means gap threshold decides word breaks;
    * explicit space glyphs count when wide enough
    * (pymupdf_spacing_fix.py:161-206). */
  def assembleLine(items: Seq[Glyph]): String = {
    val nonSpaceWidths = items.filter(g => !isSpaceStr(g.c)).map(_.width)
    val medianCharWidth = medianOr(nonSpaceWidths)
    val gaps = (1 until items.length).toList
      .map(i => items(i).x0 - items(i - 1).x1)
      .filter(_ >= 0)
    val threshold = gapThreshold(gaps, medianCharWidth, GapRatio)
    emitLine(items, medianCharWidth, threshold)
  }

  /** Direct-path line assembly (PdfLayout, no-docling PDF read): identical
    * to [[assembleLine]] but the 2-means clusters ALL inter-glyph gaps,
    * including negative kerning overlaps. The reference algorithm drops
    * negatives (pymupdf_spacing_fix.py:178) — fine against PyMuPDF's glyph
    * boxes, but real embedded fonts kern letters to OVERLAP (gap < 0); with
    * every letter gap filtered out the 2-means bisects the WORD gaps
    * themselves and glues justified narrow columns (long_report p4/p5
    * two-column prose). A positive floor guards the all-overlap degenerate
    * case (combining diacritics at one x would otherwise push the midpoint
    * below the letter gaps and space every letter). */
  def assembleLineDirect(items: Seq[Glyph]): String = {
    val nonSpaceWidths = items.filter(g => !isSpaceStr(g.c)).map(_.width)
    val medianCharWidth = medianOr(nonSpaceWidths)
    val gaps = (1 until items.length).toList
      .map(i => items(i).x0 - items(i - 1).x1)
    val t0 = gapThreshold(gaps, medianCharWidth, GapRatio)
    val threshold =
      if (t0 <= medianCharWidth * 0.1) medianCharWidth * GapRatio else t0
    emitLine(items, medianCharWidth, threshold)
  }

  private def emitLine(items: Seq[Glyph], medianCharWidth: Double,
                       threshold: Double): String = {
    val out = new StringBuilder
    var prev: Option[Glyph] = None
    var pendingSpace = false
    var pendingSpaceWidth = 0.0
    for (g <- items) {
      if (isSpaceStr(g.c)) {
        pendingSpace = true
        pendingSpaceWidth = math.max(pendingSpaceWidth, g.width)
      } else if (prev.isEmpty) {
        if (pendingSpace && pendingSpaceWidth >= medianCharWidth * SpaceWidthRatio) out += ' '
        pendingSpace = false; pendingSpaceWidth = 0.0
        out ++= g.c
        prev = Some(g)
      } else {
        if (pendingSpace) {
          if (pendingSpaceWidth >= medianCharWidth * SpaceWidthRatio) out += ' '
          pendingSpace = false; pendingSpaceWidth = 0.0
        } else {
          val gap = g.x0 - prev.get.x1
          if (gap > threshold) out += ' '
        }
        out ++= g.c
        prev = Some(g)
      }
    }
    out.result().strip()
  }

  /** pymupdf_spacing_fix.py:138-208 — cluster glyphs into lines, re-space. */
  def reconstructFromChars(charsIn: Seq[Glyph]): String = {
    if (charsIn.isEmpty) return ""
    clusterLines(charsIn)
      .map(assembleLine)
      .filter(_.nonEmpty)
      .mkString(" ").strip()
  }

  /** pymupdf_spacing_fix.py:211-225 */
  def spacingBadness(text: String): Double = {
    val tokens = findAll(WordToken, text)
    if (tokens.isEmpty) return 0.0
    val avgLen = tokens.map(_.length).sum.toDouble / tokens.length
    val longTokens = tokens.count(_.length >= 18)
    var badness = math.max(0.0, avgLen - 6.0)
    badness += longTokens * 1.5
    if (hasMatch(RunonLetters, text)) badness += 4.0
    if (hasMatch(RunonMergedAlnum, text)) badness += 3.0
    if (isSpacedText(text)) badness += 4.0
    badness
  }

  /** pymupdf_spacing_fix.py:261-262 */
  def numericOnly(text: String): Boolean = fullMatch(NumericOnly, text.strip())

  /** pymupdf_spacing_fix.py:265-280 */
  def needsNumericRepair(text: String): Boolean = {
    if (!numericOnly(text)) return false
    val stripped = text.strip()
    if (stripped.isEmpty) return true
    val digits = Numbers.digitsOnly(stripped)
    if (digits.isEmpty) return true
    if (digits.length <= 2) return true
    if (fullMatch(SuspiciousNumeric, stripped)) return true
    if ((stripped.startsWith(".") || stripped.startsWith(",")) && digits.length <= 4) return true
    false
  }

  /** pymupdf_spacing_fix.py:283-287 */
  def needsShortTextRepair(text: String): Boolean = {
    val stripped = text.strip()
    if (stripped.isEmpty) return true
    isAlphaStr(stripped) && stripped.length <= 2
  }

  /** pymupdf_spacing_fix.py:290-302 — truncated-word detector. */
  def needsSuffixCompletion(text: String): Boolean = {
    val stripped = text.strip()
    if (stripped.length < 6) return false
    val tokens = findAll(AlphaToken, stripped)
    if (tokens.isEmpty) return false
    val lastToken = tokens.last
    if (lastToken.length < 6) return false
    if (!hasMatch(TrailingAlpha, lastToken)) return false
    !Vowels.contains(lastToken.last)
  }

  /** pymupdf_spacing_fix.py:305-311 */
  def needsTableCellRepair(text: String): Boolean =
    needsTableSpacingFix(text) || needsNumericRepair(text) ||
      needsShortTextRepair(text) || needsSuffixCompletion(text)

  private val DigitSpDigit = re("(?<=\\d)\\s+(?=\\d)")
  private val DigitSpPunct = re("(?<=\\d)\\s+(?=[.,/%])")
  private val PunctSpDigit = re("(?<=[.,/%])\\s+(?=\\d)")
  private val MultiWs = re("\\s{2,}")
  /** pymupdf_spacing_fix.py:314-321 */
  def compactNumericSpacing(text: String): String = {
    if (!numericOnly(text)) return text
    var t = sub(DigitSpDigit, "", text)
    t = sub(DigitSpPunct, "", t)
    t = sub(PunctSpDigit, "", t)
    t = sub(MultiWs, " ", t)
    t.strip()
  }

  /** pymupdf_spacing_fix.py:324-362 — replacement acceptance. */
  def shouldReplaceText(old: String, newText: String, tableMode: Boolean = false): Boolean = {
    if (newText == null || newText.isEmpty || newText == old) return false
    if (old.strip().isEmpty) return true
    if (newText.startsWith(old) && (newText.length - old.length) > 0 &&
        (newText.length - old.length) <= 3) return true
    val oldTokens = findAll(WordToken, old)
    val newTokens = findAll(WordToken, newText)
    if (tableMode && needsTableSpacingFix(old) && oldTokens.nonEmpty) {
      if (newTokens.length <= math.max(1, (oldTokens.length * 0.6).toInt)) return true
    }
    if (needsNumericRepair(old) && numericOnly(newText)) {
      val oldDigits = Numbers.digitsOnly(old).length
      val newDigits = Numbers.digitsOnly(newText).length
      if (newDigits > oldDigits) return true
    }
    if (needsShortTextRepair(old) && newText.length > old.length) return true
    if (isAlphaStr(old) && isAlphaStr(newText)) {
      if (newText.startsWith(old) && (newText.length - old.length) > 0 &&
          (newText.length - old.length) <= 3) return true
    }
    if (newText.length < math.max(8, (old.length * 0.4).toInt)) {
      if (!(isSpacedText(old) || fullMatch(NumericOnly, old))) return false
    }
    if (oldTokens.nonEmpty && newTokens.length < math.max(1, (oldTokens.length * 0.6).toInt)) {
      if (!(isSpacedText(old) || fullMatch(NumericOnly, old) ||
            (tableMode && needsTableSpacingFix(old)))) return false
    }
    if (needsSpacingFix(old) && !needsSpacingFix(newText)) return true
    if (tableMode && needsTableSpacingFix(old) && !needsTableSpacingFix(newText)) return true
    spacingBadness(newText) + 0.5 < spacingBadness(old)
  }
}
