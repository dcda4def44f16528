package graft.extract

import org.scalatest.funsuite.AnyFunSuite
import graft.model._
import graft.textkit.SpacingRepair.Glyph

class SpacingFixSpec extends AnyFunSuite {
  private def layOut(phrase: String): (Seq[Glyph], Bbox) = {
    var x = 0.0
    val glyphs = phrase.flatMap { ch =>
      if (ch == ' ') { x += 2.5; None }
      else { val g = Glyph(ch.toString, x, 0, x + 1.0, 2.0); x += 1.1; Some(g) }
    }
    (glyphs, Bbox(0, 0, x + 2, 2, Bbox.TopLeft))
  }

  private def tableDoc(cellText: String, bbox: Bbox): Doc =
    Doc("u", Array(DocItem(0, ItemKind.Table, Label.Table, ContentLayer.Body, 1, None, "",
      Some(TableData(1, 1, Array(TableCell(0, 1, 0, 1, 1, 1, cellText,
        columnHeader = false, rowHeader = false, rowSection = false, fillable = false,
        bbox = Some(bbox))))))), Array(PageDim(1, 0, 800)))

  test("detectSpacingPages flags the page holding a spaced cell") {
    val (_, bbox) = layOut("financiar")
    val doc = tableDoc("finan c iar", bbox)
    assert(SpacingFix.detectSpacingPages(doc) == Some(Set(1)))
  }

  test("detectSpacingPages: clean doc yields empty set (no repair pass)") {
    val (_, bbox) = layOut("financiar")
    val doc = tableDoc("Rezultate financiare consolidate", bbox)
    assert(SpacingFix.detectSpacingPages(doc) == Some(Set.empty[Int]))
  }

  test("fixSpacedItems repairs a spaced cell from glyphs") {
    val phrase = "Viteza de rotatie a activelor"
    val (glyphs, bbox) = layOut(phrase)
    val doc = tableDoc("Vi t e z a de ro t a t ie a a ct i v e l or", bbox)
    val pages = SpacingFix.detectSpacingPages(doc)
    val (fixed, report) = SpacingFix.fixSpacedItems(doc, Map(1 -> glyphs), pages)
    assert(report.tableCells == 1)
    assert(fixed.items(0).table.get.cells(0).text == phrase)
  }

  test("fixSpacedItems repairs a spaced text item") {
    val phrase = "cheltuieli financiare totale"
    val (glyphs, bbox) = layOut(phrase)
    val doc = Doc("u", Array(DocItem(0, ItemKind.Text, Label.Text, ContentLayer.Body, 1,
      Some(bbox), "chel t uieli fin a nci a re tot a le", None)), Array(PageDim(1, 0, 800)))
    val (fixed, report) = SpacingFix.fixSpacedItems(doc, Map(1 -> glyphs),
      SpacingFix.detectSpacingPages(doc))
    assert(report.textItems == 1)
    assert(fixed.items(0).text == phrase)
  }

  private def cell(col: Int, text: String, bbox: Option[Bbox]): TableCell =
    TableCell(0, 1, col, col + 1, 1, 1, text,
      columnHeader = false, rowHeader = false, rowSection = false, fillable = false, bbox = bbox)

  private def tableOf(cells: TableCell*): Doc =
    Doc("u", Array(DocItem(0, ItemKind.Table, Label.Table, ContentLayer.Body, 1, None, "",
      Some(TableData(1, cells.length, cells.toArray)))), Array(PageDim(1, 0, 800)))

  private def cellTexts(doc: Doc): Seq[String] =
    doc.items.toSeq.flatMap(_.table).flatMap(_.cells.map(_.text))

  /** `phrase` laid out as glyphs from x = `x0`, with its clip box. */
  private def layOutAt(phrase: String, x0: Double): (Seq[Glyph], Bbox) = {
    val (glyphs, bbox) = layOut(phrase)
    (glyphs.map(g => g.copy(x0 = g.x0 + x0, x1 = g.x1 + x0)),
      bbox.copy(l = bbox.l + x0, r = bbox.r + x0))
  }

  test("fillCellsFromGlyphs restores an empty cell from the page's glyphs") {
    val (glyphs, bbox) = layOut("Total")
    val (out, n) = SpacingFix.fillCellsFromGlyphs(tableOf(cell(0, "", Some(bbox))), Map(1 -> glyphs))
    assert(n == 1)
    assert(cellTexts(out) == Seq("Total"))
  }

  test("fillCellsFromGlyphs restores a lone dash just outside the box through the 3x pad retry") {
    // the dash's centre sits 2 points right of the box: outside the 1-point
    // pad, inside the 3-point one
    val dash = Glyph("-", 11.5, 0, 12.5, 2.0)
    val bbox = Bbox(0, 0, 10, 2, Bbox.TopLeft)
    val (out, n) = SpacingFix.fillCellsFromGlyphs(tableOf(cell(0, "", Some(bbox))), Map(1 -> Seq(dash)))
    assert(n == 1)
    assert(cellTexts(out) == Seq("-"))
    // without the retry's reach the cell stays empty
    val far = dash.copy(x0 = 13.5, x1 = 14.5)
    val (kept, k) = SpacingFix.fillCellsFromGlyphs(tableOf(cell(0, "", Some(bbox))), Map(1 -> Seq(far)))
    assert(k == 0)
    assert(cellTexts(kept) == Seq(""))
  }

  test("fillCellsFromGlyphs replaces a suspect currency cell and keeps a valid one") {
    val (suspectGlyphs, suspectBox) = layOutAt("EUR 6.961.310", 0)
    val (validGlyphs, validBox) = layOutAt("RON 12.345", 100)
    val doc = tableOf(cell(0, "EUR .961.31", Some(suspectBox)), cell(1, "RON 71.371", Some(validBox)))
    val (out, n) = SpacingFix.fillCellsFromGlyphs(doc, Map(1 -> (suspectGlyphs ++ validGlyphs)))
    assert(n == 1)
    assert(cellTexts(out) == Seq("EUR 6.961.310", "RON 71.371"))
  }

  test("fillCellsFromGlyphs declines a spaced reconstruction for an empty cell") {
    val (glyphs, bbox) = layOut("x y z w")
    assert(graft.textkit.Predicates.isSpacedText(
      graft.textkit.SpacingRepair.reconstructFromChars(glyphs)))
    val (out, n) = SpacingFix.fillCellsFromGlyphs(tableOf(cell(0, "", Some(bbox))), Map(1 -> glyphs))
    assert(n == 0)
    assert(cellTexts(out) == Seq(""))
  }

  test("fillCellsFromGlyphs leaves a cell with no bbox and a page with no glyphs untouched") {
    val (glyphs, bbox) = layOut("Total")
    val (noBox, n1) = SpacingFix.fillCellsFromGlyphs(tableOf(cell(0, "", None)), Map(1 -> glyphs))
    assert(n1 == 0)
    assert(cellTexts(noBox) == Seq(""))
    for (pageGlyphs <- Seq(Map(1 -> Seq.empty[Glyph]), Map(2 -> glyphs), Map.empty[Int, Seq[Glyph]])) {
      val (out, n) = SpacingFix.fillCellsFromGlyphs(tableOf(cell(0, "", Some(bbox))), pageGlyphs)
      assert(n == 0)
      assert(cellTexts(out) == Seq(""))
    }
  }

  test("fillCellsFromGlyphs returns the number of cells it filled, over every table") {
    val (totalGlyphs, totalBox) = layOutAt("Total", 0)
    val (suspectGlyphs, suspectBox) = layOutAt("EUR 6.961.310", 100)
    val (validGlyphs, validBox) = layOutAt("RON 12.345", 200)
    val first = tableOf(cell(0, "", Some(totalBox)), cell(1, "EUR .961.31", Some(suspectBox)),
      cell(2, "RON 71.371", Some(validBox)), cell(3, "", None))
    val second = first.items(0).copy(idx = 1)
    val doc = first.copy(items = Array(first.items(0), second))
    val (out, n) = SpacingFix.fillCellsFromGlyphs(doc,
      Map(1 -> (totalGlyphs ++ suspectGlyphs ++ validGlyphs)))
    assert(n == 4)
    assert(cellTexts(out) ==
      Seq("Total", "EUR 6.961.310", "RON 71.371", "", "Total", "EUR 6.961.310", "RON 71.371", ""))
    // the input document is not changed
    assert(cellTexts(doc) == Seq("", "EUR .961.31", "RON 71.371", "", "", "EUR .961.31", "RON 71.371", ""))
  }

  test("addPictureKpiCaptions attaches KPI text, dedupes against doc text, caps at max") {
    val pic = DocItem(0, ItemKind.Picture, Label.Picture, ContentLayer.Body, 1,
      Some(Bbox(0, 0, 100, 100, Bbox.TopLeft)), "", None)
    val doc = Doc("u", Array(pic), Array(PageDim(1, 0, 800)))
    val kpi = "PROFIT NET RON 42,92 MIL. (EUR 8,45 MIL.) +103,61% vs 9L 2024"
    val (out, added) = SpacingFix.addPictureKpiCaptions(doc, (_, _) => kpi)
    assert(added == 1)
    assert(out.items.exists(i => i.label == Label.Caption && i.text == kpi))
    // second run: caption text is now part of the doc -> deduped
    val (_, added2) = SpacingFix.addPictureKpiCaptions(out, (_, _) => kpi)
    assert(added2 == 0)
  }

  test("addPictureKpiCaptions rejects axis-like picture text") {
    val pic = DocItem(0, ItemKind.Picture, Label.Picture, ContentLayer.Body, 1,
      Some(Bbox(0, 0, 100, 100, Bbox.TopLeft)), "", None)
    val doc = Doc("u", Array(pic), Array(PageDim(1, 0, 800)))
    val (_, added) = SpacingFix.addPictureKpiCaptions(doc,
      (_, _) => "20 0 40 60 80 9L 2024 9L 2025 mil. RON")
    assert(added == 0)
  }

  test("probeBackend picks the higher-scoring parse config (first on ties)") {
    val doc = graft.sources.SyntheticPages.dirtyDoc(42L, 1L)
    val html = graft.sources.SyntheticPages.htmlFor(doc, 42L, 1L)
    val (best, scores) = SpacingFix.probeBackend(doc.url, html)
    assert(scores.keySet == Set("standard", "aggressive"))
    assert(best == scores.maxBy(_._2)._1 ||
      scores("standard") == scores("aggressive") && best == "standard")
  }
}
