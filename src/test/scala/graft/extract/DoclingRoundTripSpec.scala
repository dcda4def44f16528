package graft.extract

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ReferenceExamples
import graft.model._

/** DoclingJsonExport must be the exact inverse of DoclingJsonIngest:
  * parse(write(doc)) == doc item-for-item — the engine can interchange
  * artifacts with reference users in the reference's own --export-json
  * format (export_utils.py:32-38). */
class DoclingRoundTripSpec extends AnyFunSuite {

  private def assertSameDoc(a: Doc, b: Doc): Unit = {
    assert(a.items.length == b.items.length,
      s"item count ${a.items.length} vs ${b.items.length}")
    for ((x, y) <- a.items.zip(b.items)) {
      assert(x.idx == y.idx, s"idx ${x.idx} vs ${y.idx}")
      assert(x.kind == y.kind, s"kind at ${x.idx}")
      assert(x.label == y.label, s"label at ${x.idx}")
      assert(x.contentLayer == y.contentLayer, s"layer at ${x.idx}")
      assert(x.pageNo == y.pageNo, s"page at ${x.idx}")
      assert(Option(x.text).getOrElse("") == Option(y.text).getOrElse(""), s"text at ${x.idx}")
      assert(x.parentIdx == y.parentIdx, s"parent at ${x.idx}")
      assert(x.bbox == y.bbox, s"bbox at ${x.idx}")
      (x.table, y.table) match {
        case (Some(tx), Some(ty)) =>
          assert(tx.numRows == ty.numRows && tx.numCols == ty.numCols)
          assert(tx.cells.length == ty.cells.length)
          for ((cx, cy) <- tx.cells.zip(ty.cells)) assert(cx == cy, s"cell in ${x.idx}")
        case (None, None) =>
        case _ => fail(s"table presence differs at ${x.idx}")
      }
      (x.kv, y.kv) match {
        case (Some(kx), Some(ky)) => assert(kx.toSeq == ky.toSeq, s"kv in ${x.idx}")
        case (None, None) =>
        case _ => fail(s"kv presence differs at ${x.idx}")
      }
    }
    assert(a.pages.toSeq == b.pages.toSeq)
  }

  test("key_value_items round-trip through the GraphData cells/links shape") {
    val doc = Doc("doc://kv",
      Array(
        DocItem(0, ItemKind.Text, Label.SectionHeader, ContentLayer.Body, 1,
          Some(Bbox(10, 10, 200, 22, Bbox.TopLeft)), "Indicatori", None),
        DocItem(1, ItemKind.KeyValue, Label.KeyValueRegion, ContentLayer.Body, 1,
          Some(Bbox(10, 30, 400, 80, Bbox.TopLeft)), "", None,
          kv = Some(Array(
            KvPair("Active imobilizate - total", "RON 281.775.783 RON 243.511.009"),
            KvPair("Total active", "RON 418.244.920 RON 361.665.930 15,64%")))),
        DocItem(2, ItemKind.Text, Label.Text, ContentLayer.Body, 1,
          Some(Bbox(10, 90, 400, 110, Bbox.TopLeft)), "Nota de subsol.", None)),
      Array(PageDim(1, 612, 792)))
    val json = graft.sources.DoclingJsonExport.write(doc)
    // the exported graph must land in key_value_items, not texts
    assert(json.contains("\"key_value_items\""))
    assert(json.contains("\"source_cell_id\""))
    val back = graft.sources.DoclingJsonIngest.parse(json, "doc://kv")
    assertSameDoc(doc, back)
  }

  test("the direct-path long_report doc (18 kv items) round-trips") {
    val pdf = ReferenceExamples.bytes("long_report.pdf")
    val doc = PdfLayout.buildDoc("doc://long_report", pdf)
    assert(doc.items.count(_.kind == ItemKind.KeyValue) >= 10)
    val back = graft.sources.DoclingJsonIngest.parse(
      graft.sources.DoclingJsonExport.write(doc), "doc://long_report")
    assertSameDoc(doc, back)
  }

  test("the reference's own 673-text/16-table/80-picture tree round-trips byte-structurally") {
    val json = ReferenceExamples.string("long_report.docling.json")
    val doc = graft.sources.DoclingJsonIngest.parse(json, "doc://long_report")
    val rewritten = graft.sources.DoclingJsonExport.write(doc)
    val reparsed = graft.sources.DoclingJsonIngest.parse(rewritten, "doc://long_report")
    assertSameDoc(doc, reparsed)
  }

  test("an HTML-parsed tree (tables + pictures + captions) round-trips") {
    val html = graft.ops.ExtractOps.htmlWithTable(10, "one two three four five six " +
      "seven eight nine ten eleven twelve thirteen fourteen", "ro")
    val doc = HtmlExtract.parse("doc://10", html)
    val reparsed = graft.sources.DoclingJsonIngest.parse(
      graft.sources.DoclingJsonExport.write(doc), "doc://10")
    assertSameDoc(doc, reparsed)
  }

  test("a PDF-layout tree round-trips") {
    val pdf = SyntheticPdf.pdfFor(Seq(Seq("alpha beta gamma", "delta epsilon zeta")))
    val doc = PdfLayout.buildDoc("doc://pdf", pdf)
    val reparsed = graft.sources.DoclingJsonIngest.parse(
      graft.sources.DoclingJsonExport.write(doc), "doc://pdf")
    assertSameDoc(doc, reparsed)
  }
}
