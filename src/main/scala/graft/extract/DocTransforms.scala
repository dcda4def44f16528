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

  /** `doc` with each table replaced by `f(table)`; a pass that changes
    * nothing returns `doc` itself, and only changed items are copied. */
  private def mapTables(doc: Doc)(f: TableData => TableData): Doc = {
    var items: Array[DocItem] = null
    var k = 0
    while (k < doc.items.length) {
      val item = doc.items(k)
      if (item.table.nonEmpty) {
        val t = item.table.get
        val nt = f(t)
        if (nt ne t) {
          if (items == null) items = doc.items.clone()
          items(k) = item.copy(table = Some(nt))
        }
      }
      k += 1
    }
    if (items == null) doc else doc.copy(items = items)
  }

  /** `t` with each cell for which `want` holds replaced by `f(cell.text)`
    * where that differs; `onChange` runs once per changed cell. */
  private def mapCellTexts(t: TableData, want: TableCell => Boolean, f: String => String)
                          (onChange: => Unit): TableData = {
    var cells: Array[TableCell] = null
    var k = 0
    while (k < t.cells.length) {
      val cell = t.cells(k)
      if (want(cell)) {
        val text = f(cell.text)
        if (text != cell.text) {
          onChange
          if (cells == null) cells = t.cells.clone()
          cells(k) = cell.copy(text = text)
        }
      }
      k += 1
    }
    if (cells == null) t else t.copy(cells = cells)
  }

  // (startRow, startCol, endRow, endCol) without a key tuple per comparison
  private val CellOrder: Ordering[TableCell] = new Ordering[TableCell] {
    def compare(a: TableCell, b: TableCell): Int = {
      var c = Integer.compare(a.startRow, b.startRow)
      if (c == 0) c = Integer.compare(a.startCol, b.startCol)
      if (c == 0) c = Integer.compare(a.endRow, b.endRow)
      if (c == 0) c = Integer.compare(a.endCol, b.endCol)
      c
    }
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

  /** table_fixes.py:350-412 — collapse column groups defined by header spans. */
  def collapseTableHeaderGroups(table: TableData): Option[TableData] = {
    headerColumnGroups(table) match {
      case None => None
      case Some(groups) =>
        val colMap = new Array[Int](table.numCols)
        for (((start, end), newIdx) <- groups.zipWithIndex; c <- start until end)
          colMap(c) = newIdx

        // preserve insertion order of merge keys, mirroring dict semantics
        val merged = scala.collection.mutable.LinkedHashMap
          .empty[(Int, Int, Int, Int), scala.collection.mutable.ArrayBuffer[(TableCell, Int)]]
        for (cell <- table.cells) {
          val newStart = colMap(cell.startCol)
          val newEnd = colMap(cell.endCol - 1) + 1
          val key = (cell.startRow, cell.endRow, newStart, newEnd)
          merged.getOrElseUpdate(key, scala.collection.mutable.ArrayBuffer.empty) +=
            ((cell, cell.startCol))
        }

        val updated = merged.map { case ((rowStart, rowEnd, colStart, colEnd), cells) =>
          val ordered = if (cells.length == 1) cells else cells.sortBy(_._2)
          val mergedText =
            if (ordered.length == 1) {
              val t = ordered(0)._1.text
              if (t == null || t.isBlank) "" else t.strip()
            } else ordered.map(_._1.text).filter(t => t != null && !t.isBlank)
              .map(_.strip()).mkString(" ").strip()
          val mergedBbox =
            if (ordered.length == 1) ordered(0)._1.bbox
            else mergeBboxes(ordered.flatMap(_._1.bbox).toSeq)
          TableCell(
            startRow = rowStart, endRow = rowEnd, startCol = colStart, endCol = colEnd,
            rowSpan = rowEnd - rowStart, colSpan = colEnd - colStart,
            text = mergedText,
            columnHeader = ordered.exists(_._1.columnHeader),
            rowHeader = ordered.exists(_._1.rowHeader),
            rowSection = ordered.exists(_._1.rowSection),
            fillable = ordered.exists(_._1.fillable),
            bbox = mergedBbox)
        }.toArray

        val sortedCells = updated.sorted(CellOrder)
        Some(TableData(table.numRows, groups.length, sortedCells))
    }
  }

  /** table_fixes.py:415-421 */
  def collapseDocTableGroups(doc: Doc): (Doc, Int) = {
    var updated = 0
    val out = mapTables(doc) { t =>
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
    val out = mapTables(doc)(
      mapCellTexts(_, _.startRow == 0, CellClean.cleanHeaderText)(updated += 1))
    (out, updated)
  }

  /** table_fixes.py:608-618 — cell-clean chain over all cells. */
  def cleanDocTableCells(doc: Doc): (Doc, Int) = {
    var updated = 0
    val out = mapTables(doc)(mapCellTexts(_, _ => true, CellClean.cleanTableCellText)(updated += 1))
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
    var cells: Array[TableCell] = null
    var k = 0
    while (k < table.cells.length) {
      val cell = table.cells(k)
      if (voting(cell) && dominant(cell.startCol) != null) {
        val desired = dominant(cell.startCol)
        val cur = CellClean.firstCurrencyToken(cell.text)
        if (cur != null && cur != desired) {
          val newText = Py.sub(CellClean.CurrencyToken, desired, cell.text)
          if (newText != cell.text) {
            updated += 1
            if (cells == null) cells = table.cells.clone()
            cells(k) = cell.copy(text = newText)
          }
        }
      }
      k += 1
    }
    (if (cells == null) table else table.copy(cells = cells), updated)
  }

  /** table_fixes.py:672-678 */
  def normalizeDocTableCurrencies(doc: Doc): (Doc, Int) = {
    var updated = 0
    val out = mapTables(doc) { t =>
      val (nt, n) = normalizeTableCurrencyColumns(t)
      updated += n
      nt
    }
    (out, updated)
  }

  /** countSuspectTableCells with a cheap digit prefilter: a cell with no
    * digit can never be a suspect currency cell (extractCurrencyNumber
    * requires a number token), so the 15-step clean chain is skipped for
    * word-only cells — the per-doc hot path at scale. */
  def countSuspectTableCellsFast(doc: Doc): Int =
    doc.items.flatMap(_.table).flatMap(_.cells).count { cell =>
      cell.text != null && cell.text.exists(_.isDigit) &&
        CellClean.isSuspectCurrencyCell(CellClean.cleanTableCellText(cell.text))
    }

  /** table_fixes.py:681-692 */
  def countSuspectTableCells(doc: Doc): Int =
    doc.items.flatMap(_.table).flatMap(_.cells).count { cell =>
      cell.text != null && cell.text.nonEmpty &&
        CellClean.isSuspectCurrencyCell(CellClean.cleanTableCellText(cell.text))
    }

  /** date_cleanup.py:73-126 / :129-182 — delete text items overlapping
    * picture bboxes (>= ratio of the text bbox area). Shared geometry core. */
  private def removeTextInsidePictures(doc: Doc, predicate: String => Boolean,
                                       ratio: Double): (Doc, Int) = {
    val picturesByPage = doc.items
      .filter(i => i.kind == ItemKind.Picture && i.bbox.nonEmpty)
      .groupBy(_.pageNo)
      .map { case (p, is) => p -> is.flatMap(_.bbox) }
    if (picturesByPage.isEmpty) return (doc, 0)
    val pageHeights = doc.pageHeights

    val toDelete = scala.collection.mutable.Set.empty[Int]
    for (item <- doc.items) {
      // the geometry is tested before the text predicate: both must hold,
      // and most text items have no bbox or no picture on their page
      if (item.kind != ItemKind.Table && item.kind != ItemKind.Picture &&
          item.text != null && item.text.nonEmpty && item.bbox.nonEmpty) {
        picturesByPage.get(item.pageNo).foreach { boxes =>
          val h = pageHeights.get(item.pageNo)
          val tb = h.map(item.bbox.get.toTopLeft).getOrElse(item.bbox.get)
          val hit = boxes.exists { pb =>
            val apb = h.map(pb.toTopLeft).getOrElse(pb)
            KpiAxis.overlapRatio(tb.l, tb.t, tb.r, tb.b, apb.l, apb.t, apb.r, apb.b) >= ratio
          }
          if (hit && predicate(item.text)) toDelete += item.idx
        }
      }
    }
    if (toDelete.isEmpty) (doc, 0)
    else (doc.copy(items = doc.items.filterNot(i => toDelete.contains(i.idx))), toDelete.size)
  }

  def removeDateOnlyTextInsidePictures(doc: Doc, ratio: Double = 0.6): (Doc, Int) =
    removeTextInsidePictures(doc, KpiAxis.dateOnly, ratio)

  def removeAxisTextInsidePictures(doc: Doc, ratio: Double = 0.6): (Doc, Int) =
    removeTextInsidePictures(doc, KpiAxis.axisLike, ratio)

  /** whitespace_fix.py:23-38 */
  def normalizeDocTextWhitespace(doc: Doc): (Doc, Int) = {
    var updated = 0
    val items = doc.items.map { item =>
      if (item.kind == ItemKind.Table || item.kind == ItemKind.Picture ||
          item.text == null || item.text.isEmpty) item
      else {
        var normalized = Whitespace.normalizeTextWhitespace(item.text)
        normalized = TextNormalize.normalizeMojibakeText(normalized)
        normalized = TextNormalize.normalizeLigatures(normalized)
        if (normalized != item.text) { updated += 1; item.copy(text = normalized) }
        else item
      }
    }
    (if (updated == 0) doc else doc.copy(items = items), updated)
  }

  /** Greedy first-unused table pairing by (page, shape), then keyed cell merge.
    * table_fixes.py:695-782 (suspect variant) and :785-884 (spaced variant).
    * Order-sensitive: implemented as a doc-local fold over item order. */
  def mergeTableCellsWithOcr(base: Doc, ocr: Doc, spacedMode: Boolean): (Doc, Int) = {
    val baseTables = base.items.zipWithIndex.collect {
      case (i, pos) if i.table.nonEmpty => (pos, i)
    }
    val ocrTables = ocr.items.filter(_.table.nonEmpty)
    val ocrByPage = ocrTables.groupBy(_.pageNo)

    var replaced = 0
    val newItems = base.items.clone()

    // phase 1: shape-matched tables, keyed cell join
    for ((pageNo, basePage) <- baseTables.groupBy(_._2.pageNo).toSeq.sortBy(_._1)) {
      val ocrPage = ocrByPage.getOrElse(pageNo, Array.empty[DocItem])
      if (ocrPage.nonEmpty) {
        val used = scala.collection.mutable.Set.empty[Int]
        for ((pos, baseItem) <- basePage) {
          val bt = newItems(pos).table.get
          val matchIdx = ocrPage.indices.find { idx =>
            !used.contains(idx) &&
              bt.numRows == ocrPage(idx).table.get.numRows &&
              bt.numCols == ocrPage(idx).table.get.numCols
          }
          matchIdx.foreach { idx =>
            used += idx
            val ocrCells = ocrPage(idx).table.get.cells
              .map(c => (c.startRow, c.endRow, c.startCol, c.endCol) -> c.text).toMap
            val cells = bt.cells.map { cell =>
              val want =
                if (spacedMode) Predicates.isSpacedText(cell.text)
                else cell.text != null && cell.text.nonEmpty
              if (!want) cell
              else ocrCells.get((cell.startRow, cell.endRow, cell.startCol, cell.endCol)) match {
                case Some(ocrText) if ocrText != null && ocrText.nonEmpty =>
                  val accept =
                    if (spacedMode) !Predicates.isSpacedText(ocrText)
                    else CellClean.shouldReplaceNumericCell(cell.text, ocrText)
                  if (accept) { replaced += 1; cell.copy(text = ocrText) } else cell
                case _ => cell
              }
            }
            newItems(pos) = newItems(pos).copy(table = Some(bt.copy(cells = cells)))
          }
        }
      }
    }

    // phase 2: spatial-overlap fallback (argmax 0.7*baseCover + 0.3*ocrCover,
    // accept if baseCover >= 0.5 and ocrCover >= 0.15). The per-OCR-cell
    // spaced flag is precomputed once — the reference recomputes it inside
    // the O(baseCells x ocrCells) loop (table_fixes.py:761)
    val ocrCellsByPage: Map[Int, Array[(Bbox, String, Boolean)]] =
      ocrTables.groupBy(_.pageNo).map { case (p, items) =>
        p -> items.flatMap(_.table.get.cells.flatMap(c => c.bbox.map(b =>
          (b, c.text, c.text != null && c.text.nonEmpty && Predicates.isSpacedText(c.text)))))
      }
    for ((pos, _) <- baseTables) {
      val item = newItems(pos)
      val ocrCells = ocrCellsByPage.getOrElse(item.pageNo, Array.empty)
      if (ocrCells.nonEmpty) {
        val bt = item.table.get
        val cells = bt.cells.map { cell =>
          val want =
            if (spacedMode) Predicates.isSpacedText(cell.text)
            else cell.text != null && cell.text.nonEmpty
          if (!want || cell.bbox.isEmpty) cell
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
              if (accept) { replaced += 1; cell.copy(text = bestText) } else cell
            }
          }
        }
        newItems(pos) = item.copy(table = Some(bt.copy(cells = cells)))
      }
    }

    (base.copy(items = newItems), replaced)
  }

  /** Count of spaced table cells (merge_spaced_table_cells ratio_only path,
    * table_fixes.py:798-804). */
  def countSpacedTableCells(doc: Doc): Int =
    doc.items.flatMap(_.table).flatMap(_.cells).count(c => Predicates.isSpacedText(c.text))

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
