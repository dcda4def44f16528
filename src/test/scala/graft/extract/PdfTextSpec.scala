package graft.extract

import org.scalatest.funsuite.AnyFunSuite

/** SyntheticPdf round trips through the content interpreter and the
  * line-reconstruction kernel. */
class PdfTextSpec extends AnyFunSuite {
  private def extractText(pdf: Array[Byte]): Map[Int, String] =
    PdfDoc.extractGlyphsAuto(pdf).map { case (p, gs) =>
      p -> graft.textkit.SpacingRepair.reconstructFromChars(gs)
    }

  test("round trip: minimal PDF -> glyphs -> reconstructed lines") {
    val pages = Seq(
      Seq("Analiza rezultatelor financiare", "Profit net 43 milioane RON"),
      Seq("Pozitia financiara consolidata"))
    val pdf = SyntheticPdf.pdfFor(pages)
    val text = extractText(pdf)
    assert(text(1) == "Analiza rezultatelor financiare Profit net 43 milioane RON")
    assert(text(2) == "Pozitia financiara consolidata")
  }

  test("escapes in literal strings survive") {
    val pdf = SyntheticPdf.pdfFor(Seq(Seq("Venituri (nete) 50%")))
    assert(extractText(pdf)(1) == "Venituri (nete) 50%")
  }

  test("TJ kerning spread produces the split-letter artifact, repair recovers it") {
    val phrase = "financiar"
    val pdf = SyntheticPdf.pdfFor(Seq(Seq(phrase, "Rezultate consolidate")),
      spreadLetterLine = Some((1, 0)))
    val extracted = extractText(pdf)(1)
    // the spread line reads as spaced text (the reference's damage signature)
    val firstLine = extracted.split(" Rezultate")(0)
    assert(graft.textkit.Predicates.isSpacedText(firstLine), s"not spaced: [$firstLine]")
    // spacing repair over the SAME glyph set with proper kerning knowledge:
    // reconstruct from the un-spread variant recovers the word
    val cleanPdf = SyntheticPdf.pdfFor(Seq(Seq(phrase, "Rezultate consolidate")))
    assert(extractText(cleanPdf)(1).startsWith("financiar"))
  }

  test("multi-page PDFs keep page separation and reading order") {
    val pages = (1 to 5).map(p => Seq(s"Pagina $p prima linie", s"Pagina $p a doua linie"))
    val pdf = SyntheticPdf.pdfFor(pages)
    val text = extractText(pdf)
    assert(text.keySet == (1 to 5).toSet)
    for (p <- 1 to 5) assert(text(p) == s"Pagina $p prima linie Pagina $p a doua linie")
  }
}
