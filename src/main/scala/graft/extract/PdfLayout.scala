package graft.extract

import graft.model._
import graft.textkit.SpacingRepair
import graft.extract.PdfDoc.SizedGlyph
import scala.collection.mutable

/** PDF layout parse: sized glyph runs -> visual lines (y-center clustering)
  * -> blocks (XY-cut-lite: vertical-gap and font-size breaks) -> typed Doc
  * items in reading order (north_star bullet (b): glyph-run clustering into
  * lines/blocks, reading-order sort, heading/list span structure).
  *
  * Classification: block font >= 17 -> title, >= 13.5 -> section_header,
  * lines led by "- " -> list_item, else text. Block gap threshold is
  * relative (1.5x the modal line pitch) so it is size-independent.
  */
object PdfLayout {
  private case class CellRun(text: String, x0: Double, x1: Double)
  private case class VLine(text: String, size: Double, yTop: Double, yBottom: Double,
                           x0: Double, x1: Double, runs: Seq[CellRun])

  private def linesOf(sized: Seq[SizedGlyph]): Seq[VLine] = {
    if (sized.isEmpty) return Seq.empty
    // identity map: clusterLines returns the same Glyph instances, so sizes
    // survive even when two glyphs collide on (x0, y0, char)
    val sizeOf = new java.util.IdentityHashMap[SpacingRepair.Glyph, java.lang.Double]()
    for (sg <- sized) sizeOf.put(sg.glyph, sg.fontSize)
    SpacingRepair.clusterLines(sized.map(_.glyph)).flatMap { items =>
      def sz(g: SpacingRepair.Glyph): Double =
        Option(sizeOf.get(g)).map(_.doubleValue).getOrElse(12.0)
      val size0 = math.max(items.map(sz).max, 1.0)
      // cell runs: split on gaps far wider than word spacing (> 1.5x the
      // SMALLER adjacent glyph size — a mixed-size visual row must split
      // where the small-font column ends, not at 1.5x the row's max size).
      // Degenerate sizes (0 Tf hidden text, collapsed Tm) fall back to the
      // row max so a lone zero-size glyph cannot shatter the line.
      def splitRef(a: SpacingRepair.Glyph, b: SpacingRepair.Glyph): Double = {
        val m = math.min(sz(a), sz(b))
        if (m <= 1.0) size0 else m
      }
      // a column gap can undercut 1.5x the font size (tight two-column
      // prose: 11.4pt gap at 8pt type) — relative outlier detection catches
      // it: a gap 4x the line's median positive gap is a column boundary.
      // The size floor keeps loose letter-tracking fonts (median positive
      // gap near zero) from shattering at every word space.
      val posGaps = items.sliding(2).collect {
        case Seq(a, b) if b.x0 - a.x1 > 0 => b.x0 - a.x1
      }.toSeq
      val medianPos =
        if (posGaps.nonEmpty) graft.textkit.Py.median(posGaps) else Double.MaxValue
      val runs = mutable.ArrayBuffer(mutable.ArrayBuffer(items.head))
      for (Seq(a, b) <- items.sliding(2) if items.length > 1) {
        val gap = b.x0 - a.x1
        val ref = splitRef(a, b)
        if (gap > ref * 1.5 || gap > math.max(4.0 * medianPos, ref))
          runs += mutable.ArrayBuffer(b)
        else runs.last += b
      }
      val cellRuns = runs.map { rg =>
        // direct-path assembly: keeps negative kerning gaps in the 2-means
        // (see SpacingRepair.assembleLineDirect scaladoc)
        CellRun(SpacingRepair.assembleLineDirect(rg.toSeq), rg.map(_.x0).min, rg.map(_.x1).max)
      }.toSeq
      // line text is assembled PER RUN: on a mixed multi-column line the
      // 2-means word-gap threshold would otherwise sit between column gaps
      // and everything else, deleting every word space inside each column
      val text = cellRuns.map(_.text).filter(_.nonEmpty).mkString(" ")
      if (text.isEmpty) None
      else {
        Some(VLine(
          text = text, size = size0,
          yTop = items.map(_.y0).min, yBottom = items.map(_.y1).max,
          x0 = items.map(_.x0).min, x1 = items.map(_.x1).max,
          runs = cellRuns))
      }
    }
  }

  /** Column signature match: same run count (>= 2) and aligned run starts. */
  private def sameColumns(a: VLine, b: VLine, tol: Double): Boolean =
    a.runs.length >= 2 && a.runs.length == b.runs.length &&
      a.runs.zip(b.runs).forall { case (x, y) => math.abs(x.x0 - y.x0) <= tol }

  /** XY-cut for non-table segments (north_star bullet (b)): banner lines
    * (a single run spanning most of the segment width) split the segment
    * vertically; within each sub-segment, run x-intervals cluster into
    * disjoint column spans, and columns are emitted left-to-right — reading
    * order for multi-column layouts (body text column, then side panel)
    * instead of y-interleaved fragments. Single-column segments pass
    * through untouched. */
  private def columnGroups(lines: Seq[VLine]): Seq[Seq[VLine]] = {
    if (lines.length < 4) return Seq(lines)
    val segX0 = lines.map(_.x0).min
    val segW = lines.map(_.x1).max - segX0
    if (segW <= 0) return Seq(lines)
    var anySplit = false
    val out = mutable.ArrayBuffer.empty[Seq[VLine]]
    val cur = mutable.ArrayBuffer.empty[VLine]     // narrow (column-candidate) lines
    val banner = mutable.ArrayBuffer.empty[VLine]  // consecutive full-width lines
    def flushCur(): Unit = {
      if (cur.nonEmpty) {
        val cols = splitColumns(cur.toSeq)
        if (cols.length > 1) anySplit = true
        out ++= cols
        cur.clear()
      }
    }
    def flushBanner(): Unit = {
      // CONSECUTIVE banners stay one group so a full-width paragraph above
      // a column region still merges into one block downstream
      if (banner.nonEmpty) { out += banner.toSeq; banner.clear() }
    }
    for (l <- lines) {
      if (l.x1 - l.x0 > segW * 0.75) { flushCur(); banner += l }
      else { flushBanner(); cur += l }
    }
    flushCur(); flushBanner()
    // no multi-column structure anywhere: keep the segment whole so
    // ordinary single-column paragraphs merge into blocks as before
    if (anySplit) out.toSeq else Seq(lines)
  }

  private def splitColumns(lines: Seq[VLine]): Seq[Seq[VLine]] = {
    if (lines.length < 4) return Seq(lines)
    val tol = graft.textkit.Py.median(lines.map(_.size))
    // merge run x-intervals (sorted by x0) into disjoint column spans
    val intervals = lines.flatMap(_.runs.map(r => (r.x0, r.x1))).sortBy(_._1)
    val spans = mutable.ArrayBuffer.empty[Array[Double]]
    for ((x0, x1) <- intervals) {
      if (spans.nonEmpty && x0 - spans.last(1) <= tol)
        spans.last(1) = math.max(spans.last(1), x1)
      else spans += Array(x0, x1)
    }
    if (spans.length < 2) return Seq(lines)
    def spanOf(r: CellRun): Int = {
      val cx = (r.x0 + r.x1) / 2
      spans.indexWhere(s => cx >= s(0) - tol && cx <= s(1) + tol) match {
        case -1 => 0
        case i => i
      }
    }
    val perSpan = Array.fill(spans.length)(mutable.ArrayBuffer.empty[VLine])
    for (l <- lines) {
      for ((span, runs) <- l.runs.groupBy(spanOf).toSeq.sortBy(_._1)) {
        val text = runs.map(_.text).filter(_.nonEmpty).mkString(" ")
        if (text.nonEmpty) // empty-run spans must not become empty items
          perSpan(span) += VLine(
            text = text,
            size = l.size, yTop = l.yTop, yBottom = l.yBottom,
            x0 = runs.map(_.x0).min, x1 = runs.map(_.x1).max, runs = runs)
      }
    }
    // a real column must carry text from several lines; otherwise fall back.
    // KNOWN TRADE-OFF of glyph-only XY-cut: a ragged key-value block (two
    // x-spans, labels left / values right, starts too uneven for the table
    // signature) reads column-wise here — all labels then all values. Only
    // a layout model (the reference delegates to Docling's ML parse) can
    // disambiguate that from genuine two-column text; token coverage is
    // unaffected either way.
    val cols = perSpan.filter(_.nonEmpty)
    if (cols.count(_.length >= 2) < 2) Seq(lines)
    else cols.map(_.toSeq).toSeq
  }

  /** Page-level X-cut: split every line's runs at wide, mostly-empty
    * vertical corridors (a column of whitespace crossed by almost no line)
    * so side-by-side regions — a financial table next to a chart's axis
    * labels — band independently. Without this, the chart's stray run
    * rides the table rows' visual lines and breaks the column signature
    * (long_report p10-p13: 10-run table rows + one axis label = 11 runs).
    * Conservative: needs >= 24pt of corridor with real content on BOTH
    * sides and < 15% line coverage inside, so justified prose gaps and
    * table column gutters never split. */
  private def xRegions(lines: Seq[VLine]): Seq[Seq[VLine]] = {
    if (lines.length < 6) return Seq(lines)
    val x0 = lines.map(_.x0).min
    val x1 = lines.map(_.x1).max
    if (x1 - x0 < 200) return Seq(lines)
    val step = 4.0
    val nBins = ((x1 - x0) / step).toInt + 1
    val cover = new Array[Int](nBins)
    for (l <- lines; r <- l.runs) {
      val b0 = math.max(((r.x0 - x0) / step).toInt, 0)
      val b1 = math.min(((r.x1 - x0) / step).toInt, nBins - 1)
      var b = b0
      while (b <= b1) { cover(b) += 1; b += 1 }
    }
    // a valid cut separates two regions with INDEPENDENT line structure:
    // each side must have >= 3 lines entirely its own, and the lines that
    // bridge the corridor (runs on both sides) must not outnumber either
    // side's own lines. A table's interior gutter fails (every row bridges,
    // nothing lives only on one side); a table-vs-chart gap passes (each
    // has its own lines; only the stray rows carrying an axis label
    // bridge); a trailing column of the SAME table fails (its lines all
    // coexist with the main body's rows).
    val thresh = math.max(1, (lines.length * 0.15).toInt)
    val cuts = mutable.ArrayBuffer.empty[Double]
    var b = 0
    while (b < nBins) {
      if (cover(b) <= thresh) {
        var e = b
        while (e < nBins && cover(e) <= thresh) e += 1
        if (e - b >= 6) {
          val cx0 = x0 + b * step
          val cx1 = x0 + e * step
          var leftOnly = 0; var rightOnly = 0; var both = 0
          for (l <- lines) {
            val hasL = l.runs.exists(r => (r.x0 + r.x1) / 2 < cx0)
            val hasR = l.runs.exists(r => (r.x0 + r.x1) / 2 > cx1)
            if (hasL && hasR) both += 1
            else if (hasL) leftOnly += 1
            else if (hasR) rightOnly += 1
          }
          if (leftOnly >= 3 && rightOnly >= 3 && both <= math.min(leftOnly, rightOnly))
            cuts += (cx0 + cx1) / 2
        }
        b = e
      } else b += 1
    }
    if (cuts.isEmpty) return Seq(lines)
    val bounds = (Seq(Double.MinValue) ++ cuts :+ Double.MaxValue)
      .sliding(2).map(s => (s.head, s(1))).toSeq
    val regions = bounds.map { case (lo, hi) =>
      lines.flatMap { l =>
        val rs = l.runs.filter(r => (r.x0 + r.x1) / 2 > lo && (r.x0 + r.x1) / 2 <= hi)
        if (rs.isEmpty) None
        else Some(VLine(rs.map(_.text).filter(_.nonEmpty).mkString(" "), l.size,
          l.yTop, l.yBottom, rs.map(_.x0).min, rs.map(_.x1).max, rs))
      }
    }.filter(_.nonEmpty)
    if (regions.length <= 1) Seq(lines) else regions
  }

  private def classify(maxSize: Double, firstLine: String): String =
    if (maxSize >= 17.0) Label.Title
    else if (maxSize >= 13.5) Label.SectionHeader
    else if (firstLine.startsWith("- ")) Label.ListItem
    else Label.Text

  /** Group lines into blocks: break on a vertical gap > 1.5x the modal
    * pitch, or on a font-size change. */
  private def blocksOf(lines: Seq[VLine]): Seq[Seq[VLine]] = {
    if (lines.isEmpty) return Seq.empty
    val pitches = lines.sliding(2).collect {
      case Seq(a, b) => b.yTop - a.yTop
    }.filter(_ > 0).toSeq
    val modalPitch = if (pitches.isEmpty) 14.0 else graft.textkit.Py.median(pitches)
    val blocks = mutable.ArrayBuffer(mutable.ArrayBuffer(lines.head))
    for (Seq(prev, cur) <- lines.sliding(2) if lines.length > 1) {
      val gap = cur.yTop - prev.yTop
      val break = gap > modalPitch * 1.5 || cur.size != prev.size ||
        cur.text.startsWith("- ") || prev.text.startsWith("- ")
      if (break) blocks += mutable.ArrayBuffer(cur)
      else blocks.last += cur
    }
    blocks.map(_.toSeq).toSeq
  }

  /** Build a Doc from a PDF payload. */
  /** Currency codes, numbers (grouped/decimal, signed, %), dd/mm/yyyy dates
    * and the delta symbol count as VALUE tokens of a key-value line. */
  private val KvCurrency = Set("RON", "EUR", "USD", "GBP", "MDL", "CHF", "Δ%", "%")
  private def isKvValueToken(t: String): Boolean =
    KvCurrency.contains(t) || t.matches("-?\\d[\\d.,]*%?") ||
      t.matches("\\d{2}/\\d{2}/\\d{4}")

  /** Split a line into (label head, value tail): the shortest all-value
    * suffix of >= 2 tokens following a head with at least one alphabetic
    * token. None = not a key-value line. */
  private[extract] def kvOf(text: String): Option[KvPair] = {
    val toks = text.trim.split("\\s+").toSeq
    if (toks.length < 3) return None
    // smallest split point whose tail is all value tokens — starting at
    // length so the LAST token is tested too (a prose line ending in a
    // word must not qualify just because its second-to-last token is
    // numeric)
    var i = toks.length
    while (i > 0 && isKvValueToken(toks(i - 1))) i -= 1
    if (i < 1 || toks.length - i < 2) return None
    val head = toks.take(i)
    if (!head.exists(_.exists(_.isLetter))) return None
    Some(KvPair(head.mkString(" "), toks.drop(i).mkString(" ")))
  }

  /** Partition a text block into alternating fragments: (true, kvLines) for
    * maximal runs of >= 3 consecutive key-value lines, (false, rest)
    * otherwise, preserving order. */
  private def kvBands(block: Seq[VLine]): Seq[(Boolean, Seq[VLine])] = {
    val flags = block.map(l => kvOf(l.text).isDefined)
    val out = mutable.ArrayBuffer.empty[(Boolean, Seq[VLine])]
    var i = 0
    while (i < block.length) {
      val f = flags(i)
      var j = i
      while (j + 1 < block.length && flags(j + 1) == f) j += 1
      val run = block.slice(i, j + 1)
      if (f && run.length >= 3) out += ((true, run))
      else if (out.nonEmpty && !out.last._1) // merge short kv runs into text
        out(out.length - 1) = (false, out.last._2 ++ run)
      else out += ((false, run))
      i = j + 1
    }
    out.toSeq
  }

  /** Reads and lays out a PDF file; an unreadable file gives a Doc with no
    * page. */
  def buildDoc(url: String, pdf: Array[Byte]): Doc = layout(url, PdfDoc.readPages(pdf))

  /** Lays out pages already read (page tree or pseudo-pages, decoded fonts,
    * real page sizes). */
  def layout(url: String, pageInputs: Seq[PdfDoc.PageRead]): Doc = {
    val items = mutable.ArrayBuffer.empty[DocItem]
    val pages = mutable.ArrayBuffer.empty[PageDim]
    var idx = 0
    for (PdfDoc.PageRead(pageNo, pageW, pageH, sized) <- pageInputs) {
      pages += PageDim(pageNo, pageW, pageH)
      for (lines <- xRegions(linesOf(sized))) {
      // table bands: maximal runs of consecutive lines sharing a >=2-column
      // x-start signature become TableData; everything else flows to blocks.
      // A wide vertical gap or a font-size change breaks the band too — two
      // stacked tables with coincident columns must stay separate items.
      val pitches = lines.sliding(2).collect {
        case Seq(a, b) => b.yTop - a.yTop
      }.filter(_ > 0).toSeq
      val modalPitch = if (pitches.isEmpty) 14.0 else graft.textkit.Py.median(pitches)
      def bandContinues(j: Int): Boolean =
        j + 1 < lines.length && sameColumns(lines(j), lines(j + 1), 6.0) &&
          lines(j + 1).yTop - lines(j).yTop <= modalPitch * 1.75 &&
          lines(j + 1).size == lines(j).size
      val rawSegments = mutable.ArrayBuffer.empty[(Boolean, Seq[VLine])] // (isTable, lines)
      var li = 0
      while (li < lines.length) {
        val start = li
        if (bandContinues(li)) {
          var end = li + 1
          while (bandContinues(end)) end += 1
          rawSegments += ((true, lines.slice(start, end + 1)))
          li = end + 1
        } else {
          var end = li
          while (end + 1 < lines.length && !bandContinues(end + 1)) end += 1
          rawSegments += ((false, lines.slice(start, end + 1)))
          li = end + 1
        }
      }

      // demote two-column PROSE misdetections: side-by-side text columns
      // share a 2-run x signature line after line, but their runs are long
      // flowing sentences with almost no digits — a real label/value band
      // has short labels or numeric value cells. Routed through the table
      // path these would freeze as glued cell text; the text path's XY-cut
      // splits the columns and the repair battery can fix their spacing.
      def isProseBand(seg: Seq[VLine]): Boolean =
        seg.head.runs.length == 2 && {
          val runs = seg.flatMap(_.runs)
          val chars = runs.map(_.text.length).sum
          val digits = runs.map(_.text.count(_.isDigit)).sum
          chars >= runs.length * 25 && digits * 100 < chars * 15
        }
      val demoted = rawSegments.map {
        case (true, seg) if isProseBand(seg) => (false, seg)
        case other => other
      }
      // re-join adjacent non-table segments so the XY-cut sees whole regions
      val joined = mutable.ArrayBuffer.empty[(Boolean, Seq[VLine])]
      for (seg <- demoted) {
        if (joined.nonEmpty && !joined.last._1 && !seg._1)
          joined(joined.length - 1) = (false, joined.last._2 ++ seg._2)
        else joined += seg
      }
      // conservative banner merge (round-4 verdict task 5): a >=3-column
      // band, ONE intervening non-table line, then a band with the SAME
      // column signature and font size within bounded gaps is one table
      // interrupted by a full-width section row — the interrupting line
      // becomes a spanning row_section row (what Docling emits there).
      val segments = mutable.ArrayBuffer.empty[(Boolean, Seq[VLine], Set[Int])]
      var si = 0
      while (si < joined.length) {
        val (isT, segL) = joined(si)
        if (!isT) { segments += ((false, segL, Set.empty)); si += 1 }
        else {
          var curLines = segL.toVector
          var banners = Set.empty[Int]
          val nCols = segL.head.runs.length
          var extending = true
          while (extending && si + 2 < joined.length && !joined(si + 1)._1 &&
                 joined(si + 1)._2.length == 1 && joined(si + 2)._1) {
            val b = joined(si + 1)._2.head
            val nextSeg = joined(si + 2)._2
            val okSig = nCols >= 3 && nextSeg.head.runs.length == nCols &&
              sameColumns(curLines.last, nextSeg.head, 6.0) &&
              curLines.last.size == nextSeg.head.size
            val okGap = b.yTop - curLines.last.yTop <= modalPitch * 2.5 &&
              nextSeg.head.yTop - b.yTop <= modalPitch * 2.5
            if (okSig && okGap) {
              banners += curLines.length
              curLines = curLines ++ Vector(b) ++ nextSeg.toVector
              si += 2
            } else extending = false
          }
          segments += ((true, curLines, banners))
          si += 1
        }
      }
      // header attachment: a line just above a band whose (fewer) runs each
      // span a contiguous group of the band's columns becomes a spanning
      // header row — the structure collapse_table_header_groups needs
      // (table_fixes.py:272-337). The candidate is stolen from the tail of
      // the preceding text segment.
      def headerGroupsFor(h: VLine, seg: Seq[VLine]): Option[Seq[(Int, Int)]] = {
        val nCols = seg.head.runs.length
        if (h.runs.length < 2 || h.runs.length >= nCols) return None
        if (seg.head.yTop - h.yTop > modalPitch * 1.75 || seg.head.yTop <= h.yTop) return None
        // column x-extents across the band's rows
        val colX = (0 until nCols).map { c =>
          (seg.map(_.runs(c).x0).min, seg.map(_.runs(c).x1).max)
        }
        val assign = colX.map { case (x0, x1) =>
          var best = -1
          var bestOv = 0.0
          for ((run, j) <- h.runs.zipWithIndex) {
            val ov = math.min(x1, run.x1) - math.max(x0, run.x0)
            if (ov > bestOv) { bestOv = ov; best = j }
          }
          best
        }
        // contiguous, complete, monotone tiling
        if (assign.contains(-1)) return None
        if (assign.head != 0 || assign.last != h.runs.length - 1) return None
        if (assign.zip(assign.tail).exists { case (a, b) => b != a && b != a + 1 }) return None
        if (assign.distinct.length != h.runs.length) return None
        val groups = (0 until h.runs.length).map { j =>
          (assign.indexOf(j), assign.lastIndexOf(j) + 1)
        }
        if (groups.forall { case (s, e) => e - s == 1 }) None else Some(groups)
      }

      // pass 1: decide stolen headers before any segment is emitted (banner
      // rows are excluded from the column-extent computation — they span)
      val headerFor = mutable.Map.empty[Int, (VLine, Seq[(Int, Int)])]
      val stolen = mutable.ArrayBuffer.empty[VLine]
      for (((isTable, segLines, banners), segIdx) <- segments.zipWithIndex if isTable) {
        if (segIdx > 0 && !segments(segIdx - 1)._1 && segments(segIdx - 1)._2.nonEmpty) {
          val cand = segments(segIdx - 1)._2.last
          val dataLines = segLines.zipWithIndex
            .filterNot { case (_, r) => banners.contains(r) }.map(_._1)
          headerGroupsFor(cand, dataLines).foreach { g =>
            headerFor(segIdx) = (cand, g)
            stolen += cand
          }
        }
      }

      for (((isTable, segLinesRaw, banners), segIdx) <- segments.zipWithIndex) {
        val segLines =
          if (isTable) segLinesRaw
          else segLinesRaw.filterNot(l => stolen.exists(_ eq l))
        if (segLines.isEmpty) ()
        else if (isTable) {
          val nCols = segLines.zipWithIndex
            .collectFirst { case (l, r) if !banners.contains(r) => l.runs.length }
            .getOrElse(segLines.head.runs.length)
          val headerOpt: Option[(VLine, Seq[(Int, Int)])] = headerFor.get(segIdx)
          val headerRows = if (headerOpt.isDefined) 1 else 0
          val nRows = segLines.length + headerRows
          val headerCells = headerOpt.toSeq.flatMap { case (h, groups) =>
            h.runs.zip(groups).map { case (run, (c0, c1)) =>
              TableCell(0, 1, c0, c1, 1, c1 - c0, run.text,
                columnHeader = true, rowHeader = false, rowSection = false,
                fillable = false,
                bbox = Some(Bbox(run.x0, h.yTop, run.x1, h.yBottom, Bbox.TopLeft)))
            }
          }
          val dataCells = segLines.zipWithIndex.flatMap { case (line, r0) =>
            if (banners.contains(r0))
              // merged-across banner: one row_section cell spanning the table
              Seq(TableCell(r0 + headerRows, r0 + headerRows + 1, 0, nCols, 1, nCols,
                line.text, columnHeader = false, rowHeader = false,
                rowSection = true, fillable = false,
                bbox = Some(Bbox(line.x0, line.yTop, line.x1, line.yBottom, Bbox.TopLeft))))
            else line.runs.zipWithIndex.map { case (run, c) =>
              TableCell(r0 + headerRows, r0 + headerRows + 1, c, c + 1, 1, 1, run.text,
                columnHeader = headerRows == 0 && r0 == 0, rowHeader = false,
                rowSection = false, fillable = false,
                bbox = Some(Bbox(run.x0, line.yTop, run.x1, line.yBottom, Bbox.TopLeft)))
            }
          }
          val allLines = headerOpt.map(_._1).toSeq ++ segLines
          val bbox = Bbox(allLines.map(_.x0).min, allLines.map(_.yTop).min,
            allLines.map(_.x1).max, allLines.map(_.yBottom).max, Bbox.TopLeft)
          items += DocItem(idx, ItemKind.Table, Label.Table, ContentLayer.Body,
            pageNo, Some(bbox), "",
            Some(TableData(nRows, nCols, (headerCells ++ dataCells).toArray)))
          idx += 1
        } else {
          for (group <- columnGroups(segLines); block <- blocksOf(group);
               (isKv, frag) <- kvBands(block)) {
            if (isKv) {
              // key-value band: label head + all-value tail per line, >= 3
              // consecutive lines. Emitted as docling key_value_items-style
              // structure instead of flowing as glued prose (these are the
              // statement-page layouts only an ML model calls tables).
              val pairs = frag.flatMap(l => kvOf(l.text)).toArray
              val bbox = Bbox(frag.map(_.x0).min, frag.map(_.yTop).min,
                frag.map(_.x1).max, frag.map(_.yBottom).max, Bbox.TopLeft)
              items += DocItem(idx, ItemKind.KeyValue, Label.KeyValueRegion,
                ContentLayer.Body, pageNo, Some(bbox), "", None, kv = Some(pairs))
              idx += 1
            } else {
            val block2 = frag
            val label = classify(block2.map(_.size).max, block2.head.text)
            val bbox = Bbox(block2.map(_.x0).min, block2.map(_.yTop).min,
              block2.map(_.x1).max, block2.map(_.yBottom).max, Bbox.TopLeft)
            if (label == Label.ListItem) {
              // one item per "- " line, preserving order
              for (line <- block2) {
                items += DocItem(idx, ItemKind.Text, Label.ListItem, ContentLayer.Body,
                  pageNo, Some(bbox), line.text.stripPrefix("- "), None)
                idx += 1
              }
            } else {
              val text = block2.map(_.text).mkString(" ")
              items += DocItem(idx, ItemKind.Text, label, ContentLayer.Body,
                pageNo, Some(bbox), text, None)
              idx += 1
            }
            }
          }
        }
      }
      }
    }
    // cross-page furniture: an item repeating with the same text at the
    // same position on at least half the pages is page furniture (nav bars,
    // running footers). Docling exports BODY content only — the reference
    // golden contains none of it — so these flip to the furniture layer and
    // the renderer drops them. Items are kept (counts stay stable); only
    // the content layer changes. Restricted to the page-MARGIN zones (top/
    // bottom 12% y bands, where headers/footers live): a genuinely repeated
    // mid-page BODY element (identical disclaimer paragraph, repeated small
    // table) must never be silently demoted.
    val itemsOut =
      if (pages.length < 4) items.toArray
      else {
        val heightOf: Map[Int, Double] =
          pages.map(p => p.pageNo -> p.height).toMap
        def inMarginZone(it: DocItem): Boolean = it.bbox.exists { bx =>
          val h = heightOf.getOrElse(it.pageNo, 792.0)
          bx.b <= h * 0.12 || bx.t >= h * 0.88
        }
        def keyOf(it: DocItem): String =
          it.kind + "|" +
            it.bbox.map(bx => s"${math.round(bx.t / 20)}:${math.round(bx.l / 20)}")
              .getOrElse("") + "|" +
            (if (it.table.nonEmpty) it.table.get.cells.map(_.text).mkString("")
             else it.text)
        val pagesByKey = items.groupBy(keyOf)
          .map { case (k, its) => k -> its.map(_.pageNo).distinct.size }
        val cutoff = math.max(3, pages.length / 2)
        items.map { it =>
          if (inMarginZone(it) && pagesByKey(keyOf(it)) >= cutoff)
            it.copy(contentLayer = ContentLayer.Furniture)
          else it
        }.toArray
      }
    Doc(url, itemsOut, pages.toArray)
  }
}
