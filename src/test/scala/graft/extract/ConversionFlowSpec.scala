package graft.extract

import org.scalatest.funsuite.AnyFunSuite
import graft.model._
import graft.textkit.{Predicates, SpacingRepair}

/** The conversion decision flow wired into Pipeline.extractOne
  * (conversion_utils.py:290-517): backend probe, OCR auto-retry triggers +
  * acceptance, glyph spacing-fix routing, suspect-cell repair. Each branch is
  * pinned end-to-end through extractOne (no Spark session needed — the flow
  * is per-row). */
class ConversionFlowSpec extends AnyFunSuite {

  private def row(html: String) =
    Pipeline.extractOne("doc://t", html.getBytes("UTF-8"), "ro", 0)

  // ocr_mode=auto (the reference CLI default is off; the triggers are
  // exercised here explicitly)
  private def rowOcrAuto(html: String) =
    Pipeline.extractOne("doc://t", html.getBytes("UTF-8"), "ro", 0,
      Pipeline.ExtractOptions(ocrMode = "auto"))

  test("[a] probe picks the aggressive parse when junk blocks hurt page-1 quality") {
    // three identical 14-char low-link-density blocks: kept by standard
    // (minContentChars=8) -> repeated-line penalty; dropped by aggressive
    // body must clear the 200 chars/page OCR trigger, or the retry's
    // keep-everything parse would re-admit the junk (reference acceptance
    // only checks spaced ratio and text length)
    val junk = "<p><a href='#'>b</a> uy item nowq</p>" * 3
    val paras = (0 until 4).map(i =>
      s"<p>Rezultatele consolidate ale grupului pentru exercitiul financiar curent $i" +
        " au fost publicate impreuna cu notele explicative aferente perioadei</p>").mkString
    val html = "<html><body><div class=\"page\"><h1>Raport anual</h1>" +
      paras + junk + "</div></body></html>"
    val r = row(html)
    assert(r.backend == "aggressive", r.backend)
    assert(!r.markdown.contains("uy item nowq"), r.markdown)
    assert(r.markdown.contains("Rezultatele consolidate"))
  }

  test("[a] a clean document short-circuits the probe to standard") {
    val paras = (0 until 4).map(i =>
      s"<p>Rezultatele consolidate ale grupului au fost publicate astazi $i impreuna" +
        " cu notele explicative aferente intregii perioade de raportare</p>").mkString
    val html = s"""<html><body><div class="page"><h1>Raport</h1>$paras</div></body></html>"""
    val r = row(html)
    assert(r.backend == "standard")
    assert(!r.ocr_retried)
  }

  test("[c] sparse text triggers the OCR re-parse; >1.2x recovery is accepted") {
    // body is link-heavy short blocks: standard parse boilers ALL of them ->
    // chars/page < 200 -> OCR config (keep everything) recovers the text
    val blocks = (0 until 12).map { i =>
      s"<p><a href='/x$i'>situatii financiare $i</a> anexa</p>"
    }.mkString
    val html = s"""<html><body><div class="page"><h1>Idx</h1>$blocks</div></body></html>"""
    val r = rowOcrAuto(html)
    assert(r.ocr_retried, "chars-per-page trigger must fire")
    assert(r.ocr_accepted, "1.2x text recovery must be accepted")
    assert(r.markdown.contains("situatii financiare 7"), r.markdown)
  }

  test("[c] a text-rich document does not trigger the retry") {
    val body = (0 until 8).map(i =>
      s"<p>Veniturile operationale consolidate au crescut semnificativ in trimestrul $i" +
        " fata de perioada comparabila anterioara conform notelor</p>").mkString
    val html = s"""<html><body><div class="page"><h1>Raport</h1>$body</div></body></html>"""
    val r = rowOcrAuto(html)
    assert(!r.ocr_retried)
    assert(r.ocr_accepted == false)
  }

  test("[d] spacing repair routes through extractOne for PDF payloads (clean = no-op)") {
    val pdf = SyntheticPdf.pdfFor(Seq(Seq("Rezultate consolidate", "Venituri operationale")))
    val r = Pipeline.extractOne("doc://pdf", pdf, "ro", 0)
    assert(r.backend == "pdf-layout")
    assert(r.spacing_fixed == 0)
    assert(r.markdown.contains("Rezultate consolidate"))
  }

  test("[d] a flagged PDF read once equals the two-read chain buildDoc -> repairDoc") {
    // crawl-mix seed 5, document 488: a PDF 1.5 rewrite with a flagged page
    val (url, pdf) = OutputDigestSpec.crawlDoc(5L, 488)
    assert(new String(pdf, 0, 8, "ISO-8859-1").startsWith("%PDF-1.5"))
    val laidOut = PdfLayout.buildDoc(url, pdf)
    assert(!SpacingFix.detectSpacingPages(laidOut).exists(_.isEmpty), "fixture must flag a page")
    val (repaired, _) = Pipeline.repairDoc(laidOut, PdfDoc.extractGlyphsAuto(pdf))
    val (doc, _) = DocTransforms.applyAll(repaired)
    val r = Pipeline.extractOne(url, pdf, "ro", 0)
    assert(r.markdown == MarkdownRender.postProcess(MarkdownRender.render(doc)))
    assert(r.text == MarkdownRender.renderPlainText(doc))
  }

  test("[d] repairDoc fixes an externally-parsed damaged tree from clean glyphs " +
      "(reference invariant: needs_spacing_fix == false after repair)") {
    // the reference's real case: the text layer (Docling) is damaged, the
    // glyph geometry (PyMuPDF) is clean — model both channels explicitly
    val phrase = "viteza de rotatie a activelor"
    val spaced = phrase.flatMap(c => if (c == ' ') "  " else c.toString + " ").trim
    assert(Predicates.needsSpacingFix(spaced), "fixture must start damaged")
    var x = 0.0
    val glyphs = phrase.flatMap { ch =>
      if (ch == ' ') { x += 2.5; None }
      else { val g = SpacingRepair.Glyph(ch.toString, x, 0, x + 1.0, 2.0); x += 1.1; Some(g) }
    }
    val cell = TableCell(0, 1, 0, 1, 1, 1, spaced, columnHeader = false,
      rowHeader = false, rowSection = false, fillable = false,
      bbox = Some(Bbox(0, 0, x + 2, 2, Bbox.TopLeft)))
    val item = DocItem(0, ItemKind.Table, Label.Table, ContentLayer.Body, 1, None, "",
      Some(TableData(1, 1, Array(cell))))
    val textItem = DocItem(1, ItemKind.Text, Label.Text, ContentLayer.Body, 1,
      Some(Bbox(0, 0, x + 2, 2, Bbox.TopLeft)), spaced, None)
    val doc = Doc("doc://ext", Array(item, textItem), Array(PageDim(1, 612, 800)))

    val (repaired, report) = Pipeline.repairDoc(doc, Map(1 -> glyphs))
    assert(report.tableCells == 1 && report.textItems == 1, report)
    val fixedCell = repaired.items(0).table.get.cells(0).text
    assert(fixedCell == phrase, fixedCell)
    assert(repaired.items(1).text == phrase)
    // the reference's acceptance invariant (pymupdf_spacing_fix.py:410,490)
    assert(!Predicates.needsSpacingFix(fixedCell))
    assert(!repaired.items.exists(i => i.text != null && i.text.nonEmpty &&
      Predicates.needsSpacingFix(i.text)))
  }

  test("[e] suspect-cell repair path leaves consistent counters on HTML payloads") {
    // a suspect currency cell in an HTML table: the lazy OCR parse sees the
    // same cells, so nothing is replaced — but the path must run cleanly
    val html = "<html><body><div class=\"page\"><h1>T</h1>" +
      "<table><tr><th>a</th><th>b</th></tr><tr><td>EUR .961.31</td><td>x</td></tr></table>" +
      "<p>Rezultatele consolidate ale grupului au fost publicate astazi impreuna cu" +
      " notele explicative aferente intregii perioade de raportare</p>" +
      "</div></body></html>"
    val r = row(html)
    assert(r.suspect_repaired == 0)
    assert(r.table_count == 1)
  }
}

/** page_range / max_pages restriction (cli.py:19-31, conversion_utils.py:348-353). */
class PageRangeSpec extends org.scalatest.funsuite.AnyFunSuite {
  private def html(pages: Int): String = {
    val sb = new StringBuilder("<html><body>")
    for (p <- 1 to pages)
      sb ++= s"""<div class="page" data-page-height="800"><p>Continutul paginii $p""" +
        " cu suficiente cuvinte pentru un bloc de text real aici</p></div>"
    sb ++= "</body></html>"
    sb.result()
  }

  test("page_range keeps only the requested pages") {
    val r = Pipeline.extractOne("doc://pr", html(4).getBytes("UTF-8"), "ro", 0,
      Pipeline.ExtractOptions(pageRange = Some((2, 3))))
    assert(r.page_count == 2, r.page_count)
    assert(r.markdown.contains("paginii 2") && r.markdown.contains("paginii 3"))
    assert(!r.markdown.contains("paginii 1") && !r.markdown.contains("paginii 4"))
  }

  test("max_pages caps conversion at the first N pages") {
    val r = Pipeline.extractOne("doc://mp", html(4).getBytes("UTF-8"), "ro", 0,
      Pipeline.ExtractOptions(maxPages = Some(2)))
    assert(r.page_count == 2)
    assert(r.markdown.contains("paginii 1") && !r.markdown.contains("paginii 3"))
  }

  test("no restriction converts everything (default)") {
    val r = Pipeline.extractOne("doc://all", html(4).getBytes("UTF-8"), "ro", 0)
    assert(r.page_count == 4)
  }
}

/** Image render modes (cli.py:72-81,198-208). */
class ImageModeSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.model._
  private val doc = Doc("doc://img", Array(
    DocItem(0, ItemKind.Text, Label.Title, ContentLayer.Body, 1, None, "Raport", None),
    DocItem(1, ItemKind.Picture, Label.Picture, ContentLayer.Body, 1, None, "", None),
    DocItem(2, ItemKind.Picture, Label.Picture, ContentLayer.Body, 1, None, "base64:aGVsbG8=", None)),
    Array(PageDim(1, 612, 792)))

  test("placeholder mode (reference default) emits the comment marker") {
    val md = MarkdownRender.render(doc)
    assert(md.contains("<!-- image -->"))
  }

  test("referenced mode links artifacts by a sequential reading-order counter") {
    val md = MarkdownRender.render(doc, imageMode = MarkdownRender.ImageMode.Referenced)
    assert(md.contains("![Image](artifacts/image_0.png)"))
    assert(md.contains("![Image](artifacts/image_1.png)"))
    assert(!md.contains("<!-- image -->"))
  }

  test("embedded mode inlines base64 payloads; no payload falls back to the placeholder") {
    val md = MarkdownRender.render(doc, imageMode = MarkdownRender.ImageMode.Embedded)
    assert(md.contains("![Image](data:image/png;base64,aGVsbG8=)"))
    assert(md.contains("<!-- image -->")) // no payload -> placeholder (post-chain removes)
  }

  test("referenced images survive the post-chain (only placeholders are noise-removed)") {
    val md = MarkdownRender.postProcess(
      MarkdownRender.render(doc, imageMode = MarkdownRender.ImageMode.Referenced))
    assert(md.contains("![Image](artifacts/image_0.png)"))
    val placeholderMd = MarkdownRender.postProcess(MarkdownRender.render(doc))
    assert(!placeholderMd.contains("<!-- image -->"))
  }
}
