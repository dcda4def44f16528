package graft.extract

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ReferenceExamples

/** The reference CLI's PRIMARY use case with NO docling JSON: the raw
  * long_report.pdf through the full extractOne pipeline — PdfDoc glyphs ->
  * PdfLayout XY-cut blocks/tables -> transform battery -> markdown. This is
  * the from-scratch layout engine standing in for Docling's ML parse, so the
  * bars are floors (coverage/recall), not byte identity. */
class RealPdfDirectSpec extends AnyFunSuite {
  private lazy val pdf = ReferenceExamples.bytes("long_report.pdf")
  private lazy val want = ReferenceExamples.string("long_report.md")
  private lazy val row = Pipeline.extractOne("doc://long_report", pdf, "ro", 0)

  test("structure: all 19 pages, a real table battery, headings classified") {
    assert(row.page_count == 19)
    // Docling's ML layout finds 16 tables; the glyph-only detector lands on
    // 15 after round 4's banner merge + two-column-prose demotion (was 21
    // over-segmented). Band tightened in round 5 (was 14..18): key-value
    // bands now absorb the statement-page label/value layouts, so the table
    // inventory is stable at 15 +/- 1.
    assert(row.table_count >= 14 && row.table_count <= 16, s"tables=${row.table_count}")
    assert(row.markdown.linesIterator.count(_.startsWith("#")) >= 20)
  }

  test("statement-page label/value bands emit as key_value items (round-5 task 5)") {
    val pdfBytes = ReferenceExamples.bytes("long_report.pdf")
    val doc = PdfLayout.buildDoc("doc://long_report", pdfBytes)
    val kvs = doc.items.filter(_.kind == graft.model.ItemKind.KeyValue)
    assert(kvs.length >= 10 && kvs.length <= 30, s"kv items=${kvs.length}")
    // they live on the financial-statement pages, not the prose pages
    val kvPages = kvs.map(_.pageNo).toSet
    assert(Seq(11, 12, 17, 18, 19).count(kvPages.contains) >= 4, s"pages=$kvPages")
    // a flagship indicator row is structured as label -> values
    val pairs = kvs.flatMap(_.kv.toSeq.flatten)
    assert(pairs.exists(p => p.key.contains("Datorii c") &&
      p.value.contains("7.940.564")), "expected 'Datorii catre parti legate' pair")
    // every pair splits into a worded label and a >= 2-token value tail
    for (p <- pairs) {
      assert(p.key.exists(_.isLetter), s"label '${p.key}'")
      assert(p.value.split(" ").length >= 2, s"value '${p.value}'")
    }
  }

  test("token coverage >= 99.3% and numeric recall >= 95% vs the reference golden") {
    val gotTokens = graft.textkit.Numbers.tokenize(row.markdown).toSet
    val wantTokens = graft.textkit.Numbers.tokenize(want)
    val cov = graft.textkit.Numbers.coverage(wantTokens, gotTokens)
    assert(cov >= 0.993, f"token coverage $cov%.4f")
    val wantNums = graft.textkit.Numbers.extractNumbers(want)
    val gotNums = graft.textkit.Numbers.extractNumbers(row.markdown)
    val recall = wantNums.count(gotNums.contains).toDouble / wantNums.size
    assert(recall >= 0.95, f"numeric recall $recall%.4f")
  }

  test("multi-column prose assembles with real word spacing (per-run 2-means)") {
    // these exact phrases came out letter-glued before the per-run assembly
    // ('înprimelenouălunialeanului2025')
    assert(row.markdown.contains("în primele nouă luni ale anului 2025"))
    assert(row.markdown.contains("Compania a înregistrat un avans al producției de lapte"))
    assert(row.markdown.contains("Analiza rezultatelor financiare consolidate la 30.09.2025"))
  }

  test("flagship table values survive the glyph-only read") {
    for (v <- Seq("245.140.981", "158.065.856", "42.916.476", "77.410.139"))
      assert(row.markdown.contains(v), s"missing $v")
  }
}
