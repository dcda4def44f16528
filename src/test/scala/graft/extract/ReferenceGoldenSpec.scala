package graft.extract

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ReferenceExamples

/** End-to-end parity against the reference's own pinned artifacts:
  * examples/long_report.docling.json (the PRE-fix DoclingDocument: 19 pages,
  * 673 texts, 16 tables with uncollapsed 10-column header groups and split
  * "RON | 158.065.856" cell pairs) transformed by OUR battery and compared
  * to examples/long_report.md.
  *
  * Full byte parity is not reachable: the committed .md was produced by an
  * OCR-enabled run (spacing_fix=ocr + tesseract) of a separate conversion —
  * e.g. the JSON's page-3 table has EMPTY currency cells where the .md shows
  * "RON 245.140.981" (restored from OCR), and chart text items differ in
  * segmentation ("de la RON 31,55 mil." vs "de la 31,55 mil. RON"). What IS
  * reachable is pinned byte-exactly below; the aggregate parity floor (74%
  * of lines byte-identical at position, 99.9% token coverage) guards the
  * rest.
  */
class ReferenceGoldenSpec extends AnyFunSuite {
  private lazy val json = ReferenceExamples.string("long_report.docling.json")
  private lazy val want = ReferenceExamples.string("long_report.md")
  private lazy val ingested = graft.sources.DoclingJsonIngest.parse(json, "doc://long_report")
  private lazy val transformed = DocTransforms.applyAll(ingested)
  private lazy val got = MarkdownRender.postProcess(MarkdownRender.render(transformed._1))

  test("ingest recovers the full pinned structure (19 pages, 673 texts, 16 tables, 80 pictures)") {
    assert(ingested.pages.length == 19)
    assert(ingested.items.count(_.kind == graft.model.ItemKind.Text) == 673)
    assert(ingested.items.count(_.table.nonEmpty) == 16)
    assert(ingested.items.count(_.kind == graft.model.ItemKind.Picture) == 80)
  }

  test("all 16 tables collapse their header column groups (10 -> 6 columns on the flagship)") {
    val (doc, counters) = transformed
    assert(counters("collapsed_tables") == 16, counters)
    val flagship = doc.items.flatMap(_.table).head
    assert(flagship.numCols == 6, s"expected 10->6 collapse, got ${flagship.numCols}")
    // the reference's own signature case (test_table_fixes.py:181-189):
    // the split "RON | 158.065.856" pair merges into one cell
    assert(flagship.cells.exists(_.text == "RON 158.065.856"))
  }

  test("markdown table count matches the reference markdown (audit_utils.py:218-227)") {
    assert(graft.textkit.MarkdownPost.markdownTableCount(got) == 16)
    assert(graft.textkit.MarkdownPost.markdownTableCount(want) == 16)
  }

  test("every heading line of the reference markdown is reproduced verbatim") {
    val gotHeadings = got.linesIterator.filter(_.startsWith("#")).toSet
    val missing = want.linesIterator.filter(_.startsWith("#")).filterNot(gotHeadings).toList
    assert(missing.isEmpty, s"missing headings: $missing")
  }

  test("reachable flagship lines are byte-exact: collapsed table rows and joined KPI blocks") {
    // 10->6 header collapse + Δ% repair + cell clean, exact padding included
    assert(got.contains(
      "| Indicatori                                                         | 30/09/2025      | 30/09/2024      | 30/09/2025      | 30/09/2024      | Δ%       |"))
    assert(got.contains(
      "| CIFRA DE AFACERI NETĂ                                              | RON 158.065.856 | RON 126.792.531 | EUR 36.549.554  | EUR 29.318.226  | 24,66%   |"))
    // picture-children join (docling serializer behavior): chart text items
    // emit as ONE space-joined line
    assert(got.contains("CIFRĂ DE AFACERI RON 158,06 MIL. (EUR 31,08 MIL.) +24,66% vs 9L 2024"))
    assert(got.contains("PROFIT NET RON 42,92 MIL. (EUR 8,45 MIL.) +103,61% vs 9L 2024"))
  }

  test("aggregate parity floor: >=70% of reference lines byte-identical, >=99.5% token coverage") {
    val gl = got.split("\n", -1)
    val wl = want.split("\n", -1)
    val n = wl.length
    val equalLines = graft.ops.ExtractOps.lcsLines(gl, wl)
    assert(equalLines >= (0.70 * n).toInt, s"only $equalLines/$n lines byte-identical")

    val gotTokens = graft.textkit.Numbers.tokenize(got).toSet
    val wantTokens = graft.textkit.Numbers.tokenize(want)
    val cov = graft.textkit.Numbers.coverage(wantTokens, gotTokens)
    assert(cov >= 0.995, s"token coverage $cov")
  }

  // ---- REAL two-channel repair: the committed docling tree against the
  // committed PDF's own glyph channel (PdfDoc: page tree, WinAnsi + CID
  // fonts, full-matrix interpreter). The residual non-identical lines are
  // classified one-by-one in GOLDEN_RESIDUE.md — every one either needs the
  // tesseract raster channel or would mean replicating its OCR errors.
  private lazy val pdfGlyphs = graft.extract.PdfDoc.extractGlyphsAuto(
    ReferenceExamples.bytes("long_report.pdf"))
  private lazy val repairedRun = Pipeline.repairDocWithTextLayer(ingested, pdfGlyphs)
  private lazy val gotRepaired = MarkdownRender.postProcess(
    MarkdownRender.render(DocTransforms.applyAll(repairedRun._1)._1))

  test("real PDF glyph channel parses all 19 pages with decoded fonts") {
    assert(pdfGlyphs.size == 19)
    assert(pdfGlyphs.values.map(_.length).sum > 25000)
    // CID/ToUnicode decode: Romanian diacritics present in the glyph layer
    val chars = pdfGlyphs.values.flatten.map(_.c).toSet
    for (c <- Seq("ă", "ț", "ș", "Î")) assert(chars.contains(c), s"missing '$c'")
  }

  test("two-channel repair on the real artifacts: 228 glyph repairs + 4 cell fills") {
    val (_, report, filled) = repairedRun
    assert(report.tableCells == 227, report)
    assert(report.textItems == 1, report)
    assert(filled == 4)
  }

  test("repaired parity: >=502/555 reference lines byte-identical (was 411 unrepaired)") {
    val gl = gotRepaired.split("\n", -1)
    val wl = want.split("\n", -1)
    val equalLines = graft.ops.ExtractOps.lcsLines(gl, wl)
    assert(equalLines >= 502, s"only $equalLines/${wl.length} lines byte-identical")
    val cov = graft.textkit.Numbers.coverage(
      graft.textkit.Numbers.tokenize(want),
      graft.textkit.Numbers.tokenize(gotRepaired).toSet)
    assert(cov >= 0.999, s"token coverage $cov")
  }

  test("glyph channel restores the OCR-run-only currency cells byte-exactly") {
    // page-3 table: the JSON's EMPTY currency cells (docling dropped them)
    // restored from the PDF text layer, collapsed, and currency-normalized —
    // these exact lines were unreachable in round 2 (charged as residue)
    assert(gotRepaired.contains(
      "| Venituri din exploatare - total       | RON 245.140.981 | RON 193.492.036 | EUR 48.245.652  | EUR 38.080.738  | 26,69%  |"))
    assert(gotRepaired.contains(
      "| EBITDA                                | RON 77.410.139  | RON 50.020.886  | EUR 15.234.917  | EUR 9.844.499   | 54,76%  |"))
    // suspect-cell restoration through shouldReplaceNumericCell: the
    // reference's own signature pair 71.371 -> 471.371 (test_table_fixes)
    assert(gotRepaired.contains(
      "| 15. Alte venituri financiare                               | RON 471.371     | RON 861.983     | EUR 92.769      | EUR 169.645     | -45,32% |"))
  }

  test("spacing routing flags real damaged pages; repair without glyphs is a safe no-op") {
    // the reference's own run routed these pages through pymupdf glyph
    // repair — detection must flag a concrete page subset (never None =
    // "unknown page", every item here has provenance)
    val pages = SpacingFix.detectSpacingPages(ingested)
    assert(pages.nonEmpty, "page info present -> never the all-pages fallback")
    assert(pages.get.nonEmpty && pages.get.forall(p => p >= 1 && p <= 19), s"pages=$pages")
    // without the glyph channel (no PyMuPDF here) repair must leave the
    // tree untouched rather than corrupt it
    val (repaired, report) = Pipeline.repairDoc(ingested, Map.empty)
    assert(report.tableCells == 0 && report.textItems == 0)
    assert(repaired.items.length == ingested.items.length)
    assert(repaired.items.zip(ingested.items).forall { case (a, b) => a.text == b.text })
  }
}
