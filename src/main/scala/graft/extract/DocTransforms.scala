package graft.extract

import graft.model._
import graft.textkit._

/** Doc-level structural transform passes, applied in the reference pipeline
  * order (conversion_utils.py:490-499): collapse header groups -> header
  * normalize -> cell clean -> currency align -> date-in-picture delete ->
  * axis-in-picture delete -> whitespace normalize.
  *
  * All passes are pure `Doc => Doc`; the order-sensitive greedy OCR merges
  * are doc-local folds (SURVEY.md §2.5) so results are deterministic under
  * any Spark partitioning.
  */
object DocTransforms {

  /** The one copy-on-change walk of every item and cell rewrite: `xs` with
    * each element replaced by `f(x)`. When `f` returns every element itself
    * the result is `xs`; otherwise `xs` is copied once, at the first change. */
  private def mapChanged[A <: AnyRef](xs: Array[A])(f: A => A): Array[A] = {
    var out: Array[A] = null
    var k = 0
    while (k < xs.length) {
      val x = xs(k)
      val y = f(x)
      if (y ne x) {
        if (out == null) out = xs.clone()
        out(k) = y
      }
      k += 1
    }
    if (out == null) xs else out
  }

  /** `doc` with each item replaced by `f(item)`; `doc` itself when no item
    * changes. */
  private[extract] def mapItems(doc: Doc)(f: DocItem => DocItem): Doc = {
    val items = mapChanged(doc.items)(f)
    if (items eq doc.items) doc else doc.copy(items = items)
  }

  /** `doc` with each table replaced by `f(item, table)`. */
  private[extract] def mapTables(doc: Doc)(f: (DocItem, TableData) => TableData): Doc =
    mapItems(doc) { item =>
      if (item.table.isEmpty) item
      else {
        val t = item.table.get
        val nt = f(item, t)
        if (nt eq t) item else item.copy(table = Some(nt))
      }
    }

  /** `t` with each cell replaced by `f(cell)`; `t` itself when no cell
    * changes. */
  private[extract] def mapCells(t: TableData)(f: TableCell => TableCell): TableData = {
    val cells = mapChanged(t.cells)(f)
    if (cells eq t.cells) t else t.copy(cells = cells)
  }

  /** `t` with each cell's text replaced by `f(cell)` where that differs;
    * `onChange` runs once per changed cell. */
  private def mapCellTexts(t: TableData)(f: TableCell => String)(onChange: => Unit): TableData =
    mapCells(t) { cell =>
      val text = f(cell)
      if (text == cell.text) cell else { onChange; cell.copy(text = text) }
    }

  /** table_fixes.py:314-337 — header row must tile columns contiguously. */
  def headerColumnGroups(table: TableData): Option[List[(Int, Int)]] = {
    val headerCells = table.cells.filter(_.startRow == 0)
    if (headerCells.isEmpty) return None
    val sorted = headerCells.sortBy(_.startCol)
    var expectedCol = 0
    val groups = List.newBuilder[(Int, Int)]
    for (cell <- sorted) {
      if (cell.startCol != expectedCol) return None
      if (cell.endCol <= cell.startCol) return None
      groups += ((cell.startCol, cell.endCol))
      expectedCol = cell.endCol
    }
    if (expectedCol != table.numCols) return None
    val gs = groups.result()
    if (gs.forall { case (s, e) => e - s == 1 }) return None
    Some(gs)
  }

  private def mergeBboxes(bboxes: Seq[Bbox]): Option[Bbox] = {
    if (bboxes.isEmpty) None
    else Some(Bbox(
      bboxes.map(_.l).min, bboxes.map(_.t).min,
      bboxes.map(_.r).max, bboxes.map(_.b).max,
      bboxes.head.origin))
  }

  /** table_fixes.py:350-412 — collapse column groups defined by header spans.
    * Cells that merge share a key (startRow, endRow, new start column, new
    * end column), and the merged cells come out sorted by that key, so a
    * stable sort of the cells by key, then by start column, puts each merge
    * group in one run, in the order its text is joined in. */
  def collapseTableHeaderGroups(table: TableData): Option[TableData] = {
    headerColumnGroups(table) match {
      case None => None
      case Some(groups) =>
        val colMap = new Array[Int](table.numCols)
        var g = 0
        for ((start, end) <- groups) {
          var c = start
          while (c < end) { colMap(c) = g; c += 1 }
          g += 1
        }
        def newStart(cell: TableCell) = colMap(cell.startCol)
        def newEnd(cell: TableCell) = colMap(cell.endCol - 1) + 1
        // read every cell's key in cell order: one outside the columns
        // fails the pass here
        for (cell <- table.cells) { newStart(cell); newEnd(cell) }
        val byKey: Ordering[TableCell] = new Ordering[TableCell] {
          def compare(a: TableCell, b: TableCell): Int = {
            var c = Integer.compare(a.startRow, b.startRow)
            if (c == 0) c = Integer.compare(newStart(a), newStart(b))
            if (c == 0) c = Integer.compare(a.endRow, b.endRow)
            if (c == 0) c = Integer.compare(newEnd(a), newEnd(b))
            if (c == 0) c = Integer.compare(a.startCol, b.startCol)
            c
          }
        }
        val cells = table.cells.sorted(byKey)
        val merged = Array.newBuilder[TableCell]
        var i = 0
        while (i < cells.length) {
          val head = cells(i)
          var j = i + 1
          while (j < cells.length && cells(j).startRow == head.startRow &&
              newStart(cells(j)) == newStart(head) && cells(j).endRow == head.endRow &&
              newEnd(cells(j)) == newEnd(head)) j += 1
          var mergedText = head.text
          var mergedBbox = head.bbox
          if (j - i == 1) mergedText = if (mergedText == null || mergedText.isBlank) "" else mergedText.strip()
          else {
            val run = cells.slice(i, j)
            mergedText = run.map(_.text).filter(t => t != null && !t.isBlank).map(_.strip())
              .mkString(" ").strip()
            mergedBbox = mergeBboxes(run.flatMap(_.bbox).toSeq)
          }
          var columnHeader, rowHeader, rowSection, fillable = false
          var k = i
          while (k < j) {
            columnHeader ||= cells(k).columnHeader
            rowHeader ||= cells(k).rowHeader
            rowSection ||= cells(k).rowSection
            fillable ||= cells(k).fillable
            k += 1
          }
          val colStart = newStart(head)
          val colEnd = newEnd(head)
          merged += TableCell(
            startRow = head.startRow, endRow = head.endRow, startCol = colStart, endCol = colEnd,
            rowSpan = head.endRow - head.startRow, colSpan = colEnd - colStart,
            text = mergedText, columnHeader = columnHeader, rowHeader = rowHeader,
            rowSection = rowSection, fillable = fillable, bbox = mergedBbox)
          i = j
        }
        Some(TableData(table.numRows, groups.length, merged.result()))
    }
  }

  /** table_fixes.py:415-421 */
  def collapseDocTableGroups(doc: Doc): (Doc, Int) = {
    var updated = 0
    val out = mapTables(doc) { (_, t) =>
      collapseTableHeaderGroups(t) match {
        case Some(newTable) => updated += 1; newTable
        case None => t
      }
    }
    (out, updated)
  }

  /** table_fixes.py:586-605 — header label normalization. */
  def normalizeDocTableHeaders(doc: Doc): (Doc, Int) = {
    var updated = 0
    val out = mapTables(doc) { (_, t) =>
      mapCellTexts(t)(c => if (c.startRow == 0) CellClean.cleanHeaderText(c.text) else c.text)(
        updated += 1)
    }
    (out, updated)
  }

  /** table_fixes.py:608-618 — cell-clean chain over all cells. */
  def cleanDocTableCells(doc: Doc): (Doc, Int) = {
    var updated = 0
    val out = mapTables(doc) { (_, t) =>
      mapCellTexts(t)(c => CellClean.cleanTableCellText(c.text))(updated += 1)
    }
    (out, updated)
  }

  /** table_fixes.py:621-669 — per-column dominant-currency vote + rewrite.
    * Dominance: total >= 2 and freq/total >= 0.7. */
  def normalizeTableCurrencyColumns(table: TableData): (TableData, Int) = {
    val numCols = table.numCols
    if (numCols <= 0) return (table, 0)
    def voting(cell: TableCell) = cell.startRow != 0 && cell.endCol - cell.startCol == 1
    // per column: currency -> count in first-seen order, made on first use
    val counts = new Array[scala.collection.mutable.LinkedHashMap[String, Int]](numCols)
    var voted = false
    for (cell <- table.cells if voting(cell)) {
      // read for every voting cell: one outside the columns fails the pass
      var counter = counts(cell.startCol)
      val cur = CellClean.firstCurrencyToken(cell.text)
      if (cur != null) {
        if (counter == null) {
          counter = scala.collection.mutable.LinkedHashMap.empty[String, Int]
          counts(cell.startCol) = counter
        }
        counter(cur) = counter.getOrElse(cur, 0) + 1
        voted = true
      }
    }
    if (!voted) return (table, 0)
    val dominant: Array[String] = counts.map { counter =>
      if (counter == null) null
      else {
        val total = counter.values.sum
        // Python max(items, key=freq): first max wins on tie (insertion order)
        val (currency, freq) = counter.maxBy(_._2)
        if (total >= 2 && freq.toDouble / total >= 0.7) currency else null
      }
    }
    var updated = 0
    val out = mapCellTexts(table) { cell =>
      val desired = if (voting(cell)) dominant(cell.startCol) else null
      val cur = if (desired == null) null else CellClean.firstCurrencyToken(cell.text)
      if (cur == null || cur == desired) cell.text
      else Py.sub(CellClean.CurrencyToken, desired, cell.text)
    }(updated += 1)
    (out, updated)
  }

  /** table_fixes.py:672-678 */
  def normalizeDocTableCurrencies(doc: Doc): (Doc, Int) = {
    var updated = 0
    val out = mapTables(doc) { (_, t) =>
      val (nt, n) = normalizeTableCurrencyColumns(t)
      updated += n
      nt
    }
    (out, updated)
  }

  /** table_fixes.py:681-692, with a digit prefilter: a cell with no digit
    * can never be a suspect currency cell (extractCurrencyNumber requires a
    * number token), so the 15-step clean chain is skipped for word-only
    * cells. */
  def countSuspectTableCells(doc: Doc): Int =
    doc.items.flatMap(_.table).flatMap(_.cells).count { cell =>
      cell.text != null && Py.anyDigit(cell.text) &&
        CellClean.isSuspectCurrencyCell(CellClean.cleanTableCellText(cell.text))
    }

  /** Share of a text item's bbox area a picture must cover for the item to
    * count as inside it (date_cleanup.py:73-126 / :129-182). */
  private val InsidePictureRatio = 0.6

  /** date_cleanup.py:73-126 / :129-182 — delete text items overlapping
    * picture bboxes (>= InsidePictureRatio of the text bbox area). Shared
    * geometry core. One scan over the items finds the pictures with a bbox;
    * they are ordered by page (stably) and each box is put in top-left
    * coordinates once ([[Doc.topLeft]]), so a text item is tested against
    * its page's pictures, found by a binary search, with no map of pages. */
  private def removeTextInsidePictures(doc: Doc, predicate: String => Boolean): (Doc, Int) = {
    val items = doc.items
    val pictures = items.filter(i => i.kind == ItemKind.Picture && i.bbox.nonEmpty)
    if (pictures.isEmpty) return (doc, 0)
    val byPage = if (pictures.length == 1) pictures else pictures.sortBy(_.pageNo)
    val picPage = byPage.map(_.pageNo)
    val picBox = byPage.map(p => doc.topLeft(p.pageNo, p.bbox.get))

    var toDelete: scala.collection.mutable.Set[Int] = null
    for (item <- items) {
      // the geometry is tested before the text predicate: both must hold,
      // and most text items have no bbox or no picture on their page
      if (item.kind != ItemKind.Table && item.kind != ItemKind.Picture &&
          item.text != null && item.text.nonEmpty && item.bbox.nonEmpty) {
        var p = firstOnPage(picPage, item.pageNo)
        var hit = false
        if (p < picPage.length && picPage(p) == item.pageNo) {
          val tb = doc.topLeft(item.pageNo, item.bbox.get)
          while (!hit && p < picPage.length && picPage(p) == item.pageNo) {
            val pb = picBox(p)
            hit = KpiAxis.overlapRatio(tb.l, tb.t, tb.r, tb.b, pb.l, pb.t, pb.r, pb.b) >=
              InsidePictureRatio
            p += 1
          }
        }
        if (hit && predicate(item.text)) {
          if (toDelete == null) toDelete = scala.collection.mutable.Set.empty[Int]
          toDelete += item.idx
        }
      }
    }
    if (toDelete == null) (doc, 0)
    else (doc.copy(items = items.filterNot(i => toDelete.contains(i.idx))), toDelete.size)
  }

  /** The first index of the sorted `pages` that is not below `page`. */
  private def firstOnPage(pages: Array[Int], page: Int): Int = {
    var lo = 0
    var hi = pages.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (pages(mid) < page) lo = mid + 1 else hi = mid
    }
    lo
  }

  def removeDateOnlyTextInsidePictures(doc: Doc): (Doc, Int) =
    removeTextInsidePictures(doc, KpiAxis.dateOnly)

  /** date_cleanup.py:54-70, whose axis battery is export_utils'
    * _is_axis_like_line (MarkdownPost.isAxisLikeLine). */
  def removeAxisTextInsidePictures(doc: Doc): (Doc, Int) =
    removeTextInsidePictures(doc, MarkdownPost.isAxisLikeLine)

  /** whitespace_fix.py:23-38 */
  def normalizeDocTextWhitespace(doc: Doc): (Doc, Int) = {
    var updated = 0
    val out = mapItems(doc) { item =>
      if (item.kind == ItemKind.Table || item.kind == ItemKind.Picture ||
          item.text == null || item.text.isEmpty) item
      else {
        var normalized = Whitespace.normalizeTextWhitespace(item.text)
        normalized = TextNormalize.normalizeMojibakeText(normalized)
        normalized = TextNormalize.normalizeLigatures(normalized)
        if (normalized == item.text) item else { updated += 1; item.copy(text = normalized) }
      }
    }
    (out, updated)
  }

  /** Greedy first-unused table pairing by (page, shape), then keyed cell merge.
    * table_fixes.py:695-782 (suspect variant) and :785-884 (spaced variant).
    * Order-sensitive: implemented as a doc-local fold over item order. */
  def mergeTableCellsWithOcr(base: Doc, ocr: Doc, spacedMode: Boolean): (Doc, Int) = {
    val ocrTables = ocr.items.filter(_.table.nonEmpty)
    val ocrByPage = ocrTables.groupBy(_.pageNo)

    var replaced = 0
    def wanted(cell: TableCell): Boolean =
      if (spacedMode) Predicates.isSpacedText(cell.text)
      else cell.text != null && cell.text.nonEmpty
    def take(cell: TableCell, text: String): TableCell = { replaced += 1; cell.copy(text = text) }

    // phase 1: shape-matched tables, keyed cell join. Each base table, in
    // item order, pairs with the first unused OCR table of its page that
    // has its shape; pages pair independently.
    val usedByPage = scala.collection.mutable.Map.empty[Int, scala.collection.mutable.Set[Int]]
    val keyed = mapTables(base) { (item, bt) =>
      val ocrPage = ocrByPage.getOrElse(item.pageNo, Array.empty[DocItem])
      val used = usedByPage.getOrElseUpdate(item.pageNo, scala.collection.mutable.Set.empty[Int])
      ocrPage.indices.find { idx =>
        !used.contains(idx) &&
          bt.numRows == ocrPage(idx).table.get.numRows &&
          bt.numCols == ocrPage(idx).table.get.numCols
      } match {
        case None => bt
        case Some(idx) =>
          used += idx
          val ocrCells = ocrPage(idx).table.get.cells
            .map(c => (c.startRow, c.endRow, c.startCol, c.endCol) -> c.text).toMap
          mapCells(bt) { cell =>
            if (!wanted(cell)) cell
            else ocrCells.get((cell.startRow, cell.endRow, cell.startCol, cell.endCol)) match {
              case Some(ocrText) if ocrText != null && ocrText.nonEmpty =>
                val accept =
                  if (spacedMode) !Predicates.isSpacedText(ocrText)
                  else CellClean.shouldReplaceNumericCell(cell.text, ocrText)
                if (accept) take(cell, ocrText) else cell
              case _ => cell
            }
          }
      }
    }

    // phase 2: spatial-overlap fallback (argmax 0.7*baseCover + 0.3*ocrCover,
    // accept if baseCover >= 0.5 and ocrCover >= 0.15). The per-OCR-cell
    // spaced flag is precomputed once — the reference recomputes it inside
    // the O(baseCells x ocrCells) loop (table_fixes.py:761)
    val ocrCellsByPage: Map[Int, Array[(Bbox, String, Boolean)]] =
      ocrByPage.map { case (p, items) =>
        p -> items.flatMap(_.table.get.cells.flatMap(c => c.bbox.map(b =>
          (b, c.text, c.text != null && c.text.nonEmpty && Predicates.isSpacedText(c.text)))))
      }
    val merged = mapTables(keyed) { (item, bt) =>
      val ocrCells = ocrCellsByPage.getOrElse(item.pageNo, Array.empty)
      if (ocrCells.isEmpty) bt
      else mapCells(bt) { cell =>
        if (!wanted(cell) || cell.bbox.isEmpty) cell
        else {
          val bb = cell.bbox.get
          val baseArea = bb.area
          if (baseArea <= 0) cell
          else {
            var bestText = ""
            var bestScore = 0.0
            for ((ob, otext, ospaced) <- ocrCells) {
              if (otext != null && otext.nonEmpty && !ospaced) {
                val inter = KpiAxis.bboxIntersectionArea(bb.l, bb.t, bb.r, bb.b, ob.l, ob.t, ob.r, ob.b)
                if (inter > 0) {
                  val ocrArea = ob.area
                  if (ocrArea > 0) {
                    val baseCover = inter / baseArea
                    val ocrCover = inter / ocrArea
                    if (baseCover >= 0.5 && ocrCover >= 0.15) {
                      val score = baseCover * 0.7 + ocrCover * 0.3
                      if (score > bestScore) { bestScore = score; bestText = otext }
                    }
                  }
                }
              }
            }
            val accept = bestText.nonEmpty &&
              (if (spacedMode) true else CellClean.shouldReplaceNumericCell(cell.text, bestText))
            if (accept) take(cell, bestText) else cell
          }
        }
      }
    }

    (merged, replaced)
  }

  /** Full reference pass order (conversion_utils.py:490-499). Returns the
    * transformed doc plus per-pass change counters for lineage metrics. */
  def applyAll(docIn: Doc): (Doc, Map[String, Int]) = {
    var doc = docIn
    val counters = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val (d1, c1) = collapseDocTableGroups(doc); doc = d1; counters("collapsed_tables") = c1
    val (d2, c2) = normalizeDocTableHeaders(doc); doc = d2; counters("normalized_headers") = c2
    val (d3, c3) = cleanDocTableCells(doc); doc = d3; counters("cleaned_cells") = c3
    val (d4, c4) = normalizeDocTableCurrencies(doc); doc = d4; counters("normalized_currencies") = c4
    val (d5, c5) = removeDateOnlyTextInsidePictures(doc); doc = d5; counters("removed_dates") = c5
    val (d6, c6) = removeAxisTextInsidePictures(doc); doc = d6; counters("removed_axis_text") = c6
    val (d6b, c6b) = SpacingFix.addPictureKpiCaptionsFromItems(doc); doc = d6b; counters("added_kpis") = c6b
    val (d7, c7) = normalizeDocTextWhitespace(doc); doc = d7; counters("normalized_text") = c7
    (doc, counters.toMap)
  }
}
