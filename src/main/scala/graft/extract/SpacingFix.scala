package graft.extract

import graft.model._
import graft.textkit._
import graft.textkit.SpacingRepair.Glyph

/** Spacing-repair routing + glyph-reconstruction pass over a document.
  *
  * Mirrors the reference flow: detect pages with spacing damage
  * (conversion_utils.py:400-426), then repair flagged table cells/text items
  * from positioned glyphs via the 2-means reconstruction kernel with
  * suffix-completion re-query at 3x padding
  * (pymupdf_spacing_fix.py:365-513,228-258). Glyphs are supplied per page by
  * the caller (carried in the row at scale — no I/O here).
  */
object SpacingFix {
  case class Report(tableCells: Int, textItems: Int, pagesProcessed: Int)

  /** conversion_utils.py:400-426 — None means "all pages" (unknown page). */
  def detectSpacingPages(doc: Doc): Option[Set[Int]] = {
    var hasUnknown = false
    val pages = scala.collection.mutable.Set.empty[Int]
    for (item <- doc.items) {
      item.table match {
        case Some(t) =>
          // table headers often split letters: stricter cell predicate
          if (t.cells.exists(c => Predicates.needsTableSpacingFix(c.text))) {
            if (item.pageNo > 0) pages += item.pageNo else hasUnknown = true
          }
        case None if item.kind != ItemKind.Picture =>
          val text = item.text
          if (text != null && text.nonEmpty && Predicates.needsSpacingFix(text)) {
            if (item.pageNo > 0) pages += item.pageNo else hasUnknown = true
          }
        case None => // picture-region text is caption-pass input, not damage
      }
    }
    if (hasUnknown) None else Some(pages.toSet)
  }

  /** Glyphs inside a bbox expanded by `pad` (the _clip_rect analog). */
  private def clipGlyphs(glyphs: Seq[Glyph], bbox: Bbox, pad: Double): Seq[Glyph] =
    glyphs.filter { g =>
      val cx = (g.x0 + g.x1) / 2.0
      val cy = (g.y0 + g.y1) / 2.0
      cx >= bbox.l - pad && cx <= bbox.r + pad && cy >= bbox.t - pad && cy <= bbox.b + pad
    }

  private def reconstruct(glyphs: Seq[Glyph], bbox: Bbox, pad: Double): String =
    SpacingRepair.compactNumericSpacing(
      SpacingRepair.reconstructFromChars(clipGlyphs(glyphs, bbox, pad)))

  /** pymupdf_spacing_fix.py:228-258 — re-query with 3x padding when the text
    * looks truncated mid-word. */
  private def expandSuffix(glyphs: Seq[Glyph], bbox: Bbox, pad: Double,
                           baseText: String): String = {
    if (!SpacingRepair.needsSuffixCompletion(baseText)) return baseText
    val widened = reconstruct(glyphs, bbox, pad * 3.0)
    if (widened.nonEmpty && SpacingRepair.shouldReplaceText(baseText, widened, tableMode = true))
      widened
    else baseText
  }

  /** Repair pass. `pageGlyphs` maps pageNo -> positioned glyphs (top-left
    * origin, same coordinate space as item bboxes). */
  def fixSpacedItems(doc: Doc, pageGlyphs: Map[Int, Seq[Glyph]],
                     pagesToFix: Option[Set[Int]], pad: Double = 1.0): (Doc, Report) = {
    if (pagesToFix.exists(_.isEmpty)) return (doc, Report(0, 0, 0))
    var tableReplaced = 0
    var textReplaced = 0
    val pageHeights = doc.pageHeights

    def pageWanted(p: Int): Boolean = pagesToFix.forall(_.contains(p))

    val items = doc.items.map { item =>
      item.table match {
        case Some(t) if pageWanted(item.pageNo) =>
          pageGlyphs.get(item.pageNo) match {
            case None => item
            case Some(glyphs) =>
              val cells = t.cells.map { cell =>
                if (cell.bbox.isEmpty || !SpacingRepair.needsTableCellRepair(cell.text)) cell
                else {
                  val bb = pageHeights.get(item.pageNo)
                    .map(cell.bbox.get.toTopLeft).getOrElse(cell.bbox.get)
                  var reconstructed = reconstruct(glyphs, bb, pad)
                  if (reconstructed.nonEmpty)
                    reconstructed = expandSuffix(glyphs, bb, pad, reconstructed)
                  if (reconstructed.nonEmpty &&
                      SpacingRepair.shouldReplaceText(cell.text, reconstructed, tableMode = true)) {
                    tableReplaced += 1
                    cell.copy(text = reconstructed)
                  } else if (SpacingRepair.needsSuffixCompletion(cell.text)) {
                    val widened = expandSuffix(glyphs, bb, pad, cell.text)
                    if (widened != cell.text &&
                        SpacingRepair.shouldReplaceText(cell.text, widened, tableMode = true)) {
                      tableReplaced += 1
                      cell.copy(text = widened)
                    } else cell
                  } else cell
                }
              }
              item.copy(table = Some(t.copy(cells = cells)))
          }
        case None if item.kind == ItemKind.Text && item.text != null &&
            item.text.nonEmpty && Predicates.needsSpacingFix(item.text) &&
            pageWanted(item.pageNo) && item.bbox.nonEmpty =>
          pageGlyphs.get(item.pageNo) match {
            case None => item
            case Some(glyphs) =>
              val bb = pageHeights.get(item.pageNo)
                .map(item.bbox.get.toTopLeft).getOrElse(item.bbox.get)
              val reconstructed = reconstruct(glyphs, bb, pad)
              if (reconstructed.nonEmpty &&
                  SpacingRepair.shouldReplaceText(item.text, reconstructed)) {
                textReplaced += 1
                item.copy(text = reconstructed)
              } else item
          }
        case _ => item
      }
    }
    val pagesProcessed = pagesToFix.map(_.size).getOrElse(0)
    (doc.copy(items = items), Report(tableReplaced, textReplaced, pagesProcessed))
  }

  /** Text-layer cell restoration: the engine's counterpart of the
    * reference's ACCEPTED full-page OCR re-parse (conversion_utils.py:387-394
    * swaps in the OCR document wholesale — the committed golden's tables
    * carry currency tokens the first parse dropped). Where the reference
    * re-reads the page raster with tesseract, we re-read the page's vector
    * text layer: for each table cell whose text is EMPTY or a suspect
    * currency value, reconstruct the cell region's glyphs and accept by the
    * same rules the OCR merge uses (_should_replace_numeric_cell,
    * table_fixes.py:548-583; non-spaced non-empty for empty cells). */
  def fillCellsFromGlyphs(doc: Doc, pageGlyphs: Map[Int, Seq[Glyph]],
                          pad: Double = 1.0): (Doc, Int) = {
    var filled = 0
    val pageHeights = doc.pageHeights
    val items = doc.items.map { item =>
      item.table match {
        case Some(t) if pageGlyphs.get(item.pageNo).exists(_.nonEmpty) =>
          val glyphs = pageGlyphs(item.pageNo)
          val cells = t.cells.map { cell =>
            if (cell.bbox.isEmpty) cell
            else {
              // every cell is a candidate, mirroring merge_suspect_table_cells
              // (table_fixes.py:695-743 tries ALL non-empty cells, gated only
              // by the _should_replace_numeric_cell acceptance); empty cells
              // additionally restore from the layer when the region holds
              // real non-spaced text the first parse dropped
              val base = Option(cell.text).getOrElse("")
              val empty = base.trim.isEmpty
              val bb = pageHeights.get(item.pageNo)
                .map(cell.bbox.get.toTopLeft).getOrElse(cell.bbox.get)
              var rec = reconstruct(glyphs, bb, pad)
              // detector bboxes can undershoot a lone glyph (a "-" dash sits
              // a point or two outside): for EMPTY cells only, retry with a
              // wider clip before giving up
              if (empty && rec.isEmpty) rec = reconstruct(glyphs, bb, pad * 3)
              val accept =
                if (empty)
                  rec.nonEmpty && rec.length <= 80 && !Predicates.isSpacedText(rec)
                else rec.nonEmpty && rec != base &&
                  CellClean.shouldReplaceNumericCell(base, rec)
              if (accept) { filled += 1; cell.copy(text = rec) } else cell
            }
          }
          item.copy(table = Some(t.copy(cells = cells)))
        case _ => item
      }
    }
    (doc.copy(items = items), filled)
  }

  /** picture_kpi_extract.py:196-250 — attach KPI-like picture text as
    * captions (max 30/doc, skipped when already present in the doc text). */
  def addPictureKpiCaptions(doc: Doc,
                            pictureText: (Int, Bbox) => String,
                            maxAdded: Int = 30): (Doc, Int) = {
    if (maxAdded <= 0) return (doc, 0)
    // rendered when the first KPI candidate needs it: most pictures have no
    // KPI text, and then the document's text is never looked at
    lazy val docText = MarkdownRender.renderPlainText(doc).toLowerCase(java.util.Locale.ROOT)
    var added = 0
    val out = scala.collection.mutable.ArrayBuffer.empty[DocItem]
    var nextIdx = doc.items.map(_.idx).foldLeft(0)(math.max) + 1
    for ((item, pos) <- doc.items.zipWithIndex) {
      out += item
      // pictures that already have a caption are skipped
      // (picture_kpi_extract.py:213 `if item.captions: continue`) — in our
      // tree a picture's caption is the immediately following caption item
      val hasCaption = pos + 1 < doc.items.length &&
        doc.items(pos + 1).label == Label.Caption
      if (added < maxAdded && item.kind == ItemKind.Picture && item.bbox.nonEmpty &&
          !hasCaption) {
        var raw = pictureText(item.pageNo, item.bbox.get)
        if (raw != null && raw.nonEmpty) {
          raw = TextNormalize.normalizeLigatures(TextNormalize.normalizeMojibakeText(raw))
          raw = KpiAxis.normalizeKpiCaption(raw)
          if (raw.nonEmpty && KpiAxis.isKpiText(raw)) {
            val normalized = raw.toLowerCase(java.util.Locale.ROOT)
            if (normalized.nonEmpty && !docText.contains(normalized)) {
              out += DocItem(nextIdx, ItemKind.Text, Label.Caption, ContentLayer.Body,
                item.pageNo, None, raw, None)
              nextIdx += 1
              added += 1
            }
          }
        }
      }
    }
    (if (added == 0) doc else doc.copy(items = out.toArray), added)
  }

  /** addPictureKpiCaptions specialization for the pipeline: the picture
    * item's own text field carries the region text (parsed from the
    * data-picture-text channel). Active only when some picture has text —
    * the KPI_OCR-enabled analog. */
  def addPictureKpiCaptionsFromItems(doc: Doc, maxAdded: Int = 30): (Doc, Int) = {
    if (!doc.items.exists(i => i.kind == ItemKind.Picture && i.text != null && i.text.nonEmpty))
      (doc, 0)
    else {
      val byKey = doc.items.filter(_.kind == ItemKind.Picture)
        .map(i => (i.pageNo, i.bbox) -> Option(i.text).getOrElse("")).toMap
      addPictureKpiCaptions(doc, (p, b) => byKey.getOrElse((p, Some(b)), ""), maxAdded)
    }
  }

  /** Backend auto-probe (conversion_utils.py:180-228): parse the document
    * under each candidate configuration, score the page-1 markdown, pick the
    * argmax (first wins ties, mirroring Python max). */
  case class ParseConfig(name: String, linkDensityThreshold: Double, minContentChars: Int)
  val Backends: Seq[ParseConfig] = Seq(
    ParseConfig("standard", 0.4, 8),
    ParseConfig("aggressive", 0.25, 16))

  /** Slice the HTML to its first page wrapper — the probe converts only
    * page 1 (conversion_utils.py:180-228 uses page_range=(1,1)), and our
    * single-pass parser produces identical page-1 items from the prefix. */
  def pageOneSlice(html: String): String = {
    def secondMarker(marker: String): Int = {
      val first = html.indexOf(marker)
      if (first < 0) -1 else html.indexOf(marker, first + marker.length)
    }
    val idx = Seq(secondMarker("class=\"page\""), secondMarker("class='page'"))
      .filter(_ >= 0).sorted.headOption.getOrElse(-1)
    if (idx < 0) html
    else {
      val tagStart = html.lastIndexOf('<', idx)
      if (tagStart <= 0) html else html.substring(0, tagStart)
    }
  }

  def probeBackend(url: String, html: String): (String, Map[String, Int]) = {
    // one config-independent parse of page 1; each config is a derived view
    val detailed = HtmlExtract.parseDetailed(url, pageOneSlice(html))
    val scores = Backends.map { cfg =>
      cfg.name -> probePage1Score(
        HtmlExtract.applyConfig(detailed, cfg.linkDensityThreshold, cfg.minContentChars))
    }
    val best = scores.maxBy(_._2)._1 // Seq.maxBy keeps the first max: Python max parity
    (best, scores.toMap)
  }

  /** Page-1 markdown quality of an already-parsed view. */
  def probePage1Score(doc: Doc): Int = {
    val page1 = doc.copy(items = doc.items.filter(
      _.pageNo == doc.pages.headOption.map(_.pageNo).getOrElse(1)))
    Quality.scoreMarkdown(MarkdownRender.render(page1)).score
  }
}
