package graft.extract

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

/** Unit pins for the real-world PDF parser (PdfDoc) independent of the
  * reference artifact: xref-driven object loading, WinAnsi + /Differences
  * simple fonts with /Widths, Identity-H CID fonts with ToUnicode CMaps,
  * Tm-scaled text, TJ kerning, octal escapes, and form-XObject recursion. */
class PdfDocSpec extends AnyFunSuite {

  /** Hand-assembled classic PDF: xref table, one page (300x200), one WinAnsi
    * TrueType font with /Widths and /Differences, one Type0/Identity-H font
    * with a ToUnicode CMap, and a form XObject showing text through a
    * translation matrix. */
  private def buildPdf(): Array[Byte] = {
    val cmap =
      """/CIDInit /ProcSet findresource begin
        |begincmap
        |1 begincodespacerange
        |<0000> <FFFF>
        |endcodespacerange
        |2 beginbfchar
        |<0001> <0041>
        |<0002> <021B>
        |endbfchar
        |1 beginbfrange
        |<0010> <0012> <0030>
        |endbfrange
        |endcmap end""".stripMargin
    val form = "BT /F1 10 Tf 5 5 Td (ok) Tj ET"
    val content =
      // WinAnsi text with octal escape (\342 = 0xE2 = a-circumflex), then a
      // TJ run with kerning, then Tm-scaled CID text, then the form XObject
      """BT
        |/F1 12 Tf 10 150 Td (V\342rf) Tj
        |[(A) -2000 (B)] TJ
        |/F2 1 Tf 20 0 0 20 10 100 Tm <000100020010> Tj
        |ET
        |q 1 0 0 1 50 50 cm /Fx Do Q""".stripMargin
    val objs = Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Count 1 /Kids [ 3 0 R ] >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 300 200 ] /Contents 4 0 R " +
        "/Resources << /Font << /F1 5 0 R /F2 6 0 R >> /XObject << /Fx 9 0 R >> >> >>",
      s"<< /Length ${content.length} >>\nstream\n$content\nendstream",
      "<< /Type /Font /Subtype /TrueType /BaseFont /Test /Encoding << /BaseEncoding " +
        "/WinAnsiEncoding /Differences [ 86 /Tcommaaccent ] >> /FirstChar 65 " +
        "/Widths [ 600 650 ] >>",
      "<< /Type /Font /Subtype /Type0 /BaseFont /TestCID /Encoding /Identity-H " +
        "/DescendantFonts [ 7 0 R ] /ToUnicode 8 0 R >>",
      "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /TestCID /DW 500 " +
        "/W [ 1 [ 700 800 ] 16 18 400 ] >>",
      s"<< /Length ${cmap.length} >>\nstream\n$cmap\nendstream",
      s"<< /Type /XObject /Subtype /Form /BBox [ 0 0 100 100 ] /Resources " +
        s"<< /Font << /F1 5 0 R >> >> /Length ${form.length} >>\nstream\n$form\nendstream")
    val sb = new StringBuilder("%PDF-1.6\n")
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    for ((o, i) <- objs.zipWithIndex) {
      offsets += sb.length
      sb ++= s"${i + 1} 0 obj\n$o\nendobj\n"
    }
    val xref = sb.length
    sb ++= s"xref\n0 ${objs.length + 1}\n0000000000 65535 f \n"
    offsets.foreach(off => sb ++= f"$off%010d 00000 n \n")
    sb ++= s"trailer\n<< /Size ${objs.length + 1} /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n"
    sb.result().getBytes(ISO_8859_1)
  }

  private lazy val pdf = buildPdf()
  private lazy val doc = new PdfDoc.Document(pdf)
  private lazy val glyphs = doc.interpretPage(doc.pages.head)
  private def text = glyphs.map(_.c).mkString

  test("xref-driven load finds the page tree with real MediaBox") {
    assert(doc.pages.length == 1)
    assert(doc.pages.head.width == 300.0 && doc.pages.head.height == 200.0)
  }

  test("WinAnsi simple font decodes octal escapes and /Differences overrides") {
    // /Differences maps code 86 ('V') to Tcommaaccent; octal \342 -> â
    assert(text.startsWith("Țârf"))
  }

  test("CID font decodes via ToUnicode bfchar + bfrange") {
    // <0001>=A, <0002>=ț (U+021B), <0010>=0 (bfrange base 0x30)
    assert(text.contains("Aț0"))
  }

  test("form XObject text is interpreted through cm translation") {
    assert(text.endsWith("ok"))
    val ok = glyphs.takeRight(2)
    // 50 (cm) + 5 (Td) = x 55; y = 200 - (55 + ...) flipped top-left
    assert(math.abs(ok.head.x0 - 55.0) < 1e-6)
    assert(ok.head.y0 < 200 && ok.head.y0 > 130)
  }

  test("Tm scale drives device font size (Tf 1 + 20x Tm = 20pt glyphs)") {
    val sized = doc.interpretPageSized(doc.pages.head)
    // the CID glyphs (ț, 0 are unique to the F2 run; "A" also appears in F1)
    val cid = sized.filter(sg => sg.glyph.c == "ț" || sg.glyph.c == "0")
    assert(cid.nonEmpty && cid.forall(sg => math.abs(sg.fontSize - 20.0) < 1e-9))
  }

  test("TJ kerning displaces subsequent glyphs by -adj/1000*size") {
    val a = glyphs.find(_.c == "A").get
    val b = glyphs.find(_.c == "B").get
    // A width 600/1000*12 = 7.2; kern -(-2000)/1000*12 = +24
    assert(math.abs((b.x0 - a.x0) - (7.2 + 24.0)) < 1e-6)
  }

  test("/Widths drive advances (FirstChar offset)") {
    // 'V' is code 86 -> outside Widths [65, 66] -> falls back; 'A'(65)=600
    val a = glyphs.find(_.c == "A").get
    assert(math.abs((a.x1 - a.x0) - 7.2) < 1e-6)
  }

  test("PDF 1.5 object streams: dict objects inside a compressed ObjStm resolve") {
    // catalog/pages/page/font live inside one FlateDecode'd /Type /ObjStm;
    // no classic xref, no trailer keyword (the 1.5+ shape crawl PDFs have)
    val inner = Seq(
      1 -> "<< /Type /Catalog /Pages 2 0 R >>",
      2 -> "<< /Type /Pages /Count 1 /Kids [ 3 0 R ] >>",
      3 -> ("<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 400 300 ] /Contents 5 0 R " +
        "/Resources << /Font << /F1 6 0 R >> >> >>"),
      6 -> "<< /Type /Font /Subtype /TrueType /BaseFont /T /Encoding /WinAnsiEncoding >>")
    val bodies = inner.map(_._2)
    val offs = bodies.scanLeft(0)(_ + _.length + 1).init
    val header = inner.map(_._1).zip(offs).map { case (n, o) => s"$n $o" }.mkString(" ") + " "
    val payload = header + bodies.mkString("\n") + "\n"
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(payload.getBytes(ISO_8859_1)); deflater.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!deflater.finished()) out.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    val packed = new String(out.toByteArray, ISO_8859_1)
    val content = "BT /F1 12 Tf 10 100 Td (hi objstm) Tj ET"
    val sb = new StringBuilder("%PDF-1.5\n")
    sb ++= s"4 0 obj\n<< /Type /ObjStm /N ${inner.length} /First ${header.length} " +
      s"/Filter /FlateDecode /Length ${packed.length} >>\nstream\n$packed\nendstream\nendobj\n"
    sb ++= s"5 0 obj\n<< /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n"
    sb ++= "%%EOF\n"
    val glyphs = PdfDoc.extractGlyphsAuto(sb.result().getBytes(ISO_8859_1))
    assert(glyphs.keySet == Set(1))
    assert(glyphs(1).map(_.c).mkString == "hiobjstm") // spaces advance only
    val doc = new PdfDoc.Document(sb.result().getBytes(ISO_8859_1))
    assert(doc.pages.head.width == 400.0 && doc.pages.head.height == 300.0)
  }

  test("PNG predictor undo: Sub/Up/Average/Paeth rows round-trip") {
    // forward-filter a known 3x4 byte grid with each filter type, then undo
    val rows = Array(
      Array[Byte](10, 20, 30, 40),
      Array[Byte](15, 25, 35, 45),
      Array[Byte](12, 22, 32, 42))
    for (ft <- 0 to 4) {
      val enc = new java.io.ByteArrayOutputStream()
      var prev = new Array[Byte](4)
      for (r <- rows) {
        enc.write(ft)
        for (i <- 0 until 4) {
          val a = if (i >= 1) r(i - 1) & 0xFF else 0
          val b = prev(i) & 0xFF
          val c = if (i >= 1) prev(i - 1) & 0xFF else 0
          val pred = ft match {
            case 0 => 0
            case 1 => a
            case 2 => b
            case 3 => (a + b) / 2
            case 4 =>
              val p = a + b - c
              val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
              if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
          }
          enc.write(((r(i) & 0xFF) - pred) & 0xFF)
        }
        prev = r
      }
      val out = PdfDoc.unpredict(enc.toByteArray, 15, 1, 8, 4)
      assert(out.toSeq == rows.flatten.toSeq, s"filter $ft")
    }
  }

  test("xref-stream-only PDF: predictor decode, type-2 ObjStm routing, offset authority") {
    val bytes = TestPdfs.buildXrefStreamPdf()
    assert(!new String(bytes, ISO_8859_1).contains("\nxref")) // truly streamless
    val d = new PdfDoc.Document(bytes)
    assert(d.pages.length == 1)
    assert(d.pages.head.width == 300.0 && d.pages.head.height == 200.0)
    val text = d.interpretPage(d.pages.head).map(_.c).mkString
    // the xref stream's offset (live first definition) must beat the raw
    // scan's later-wins preference for the stale decoy
    assert(text == "CURRENT", s"got '$text'")
  }

  test("Type1 without /Encoding decodes via StandardEncoding (quoteright, AE)") {
    val content = "BT /F1 12 Tf 10 100 Td (it\\047s \\341) Tj ET"
    val objs = Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Count 1 /Kids [ 3 0 R ] >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 300 200 ] /Contents 4 0 R " +
        "/Resources << /Font << /F1 5 0 R >> >> >>",
      s"<< /Length ${content.length} >>\nstream\n$content\nendstream",
      "<< /Type /Font /Subtype /Type1 /BaseFont /Times-Roman >>")
    val sb = new StringBuilder("%PDF-1.4\n")
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    for ((o, i) <- objs.zipWithIndex) {
      offsets += sb.length
      sb ++= s"${i + 1} 0 obj\n$o\nendobj\n"
    }
    val xref = sb.length
    sb ++= s"xref\n0 ${objs.length + 1}\n0000000000 65535 f \n"
    offsets.foreach(o => sb ++= f"$o%010d 00000 n \n")
    sb ++= s"trailer\n<< /Size ${objs.length + 1} /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n"
    val d = new PdfDoc.Document(sb.result().getBytes(ISO_8859_1))
    val text = d.interpretPage(d.pages.head).map(_.c).mkString
    // 0x27 -> quoteright U+2019, 0xE1 -> AE U+00C6 in StandardEncoding
    assert(text == "it’sÆ", s"got codepoints ${text.map(_.toInt)}")
  }

  test("embedded Type1 font program's own encoding vector wins over the Standard default") {
    // clear portion of a Type1 program: custom vector mapping 65 -> abreve
    // and 66 -> scommaaccent (NOT what Standard/WinAnsi put there)
    val fontProg =
      """%!PS-AdobeFont-1.0: Test
        |/FontName /Test def
        |/Encoding 256 array
        |0 1 255 {1 index exch /.notdef put} for
        |dup 65 /abreve put
        |dup 66 /scommaaccent put
        |readonly def
        |eexec
        |0000000000""".stripMargin
    val content = "BT /F1 12 Tf 10 100 Td (AB) Tj ET"
    val objs = Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Count 1 /Kids [ 3 0 R ] >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 300 200 ] /Contents 4 0 R " +
        "/Resources << /Font << /F1 5 0 R >> >> >>",
      s"<< /Length ${content.length} >>\nstream\n$content\nendstream",
      "<< /Type /Font /Subtype /Type1 /BaseFont /Test /FontDescriptor 6 0 R >>",
      s"<< /Type /FontDescriptor /FontName /Test /Flags 4 /FontFile 7 0 R >>",
      s"<< /Length ${fontProg.length} /Length1 ${fontProg.indexOf("eexec")} >>" +
        s"\nstream\n$fontProg\nendstream")
    val sb = new StringBuilder("%PDF-1.4\n")
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    for ((o, i) <- objs.zipWithIndex) {
      offsets += sb.length
      sb ++= s"${i + 1} 0 obj\n$o\nendobj\n"
    }
    val xref = sb.length
    sb ++= s"xref\n0 ${objs.length + 1}\n0000000000 65535 f \n"
    offsets.foreach(o => sb ++= f"$o%010d 00000 n \n")
    sb ++= s"trailer\n<< /Size ${objs.length + 1} /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n"
    val d = new PdfDoc.Document(sb.result().getBytes(ISO_8859_1))
    val text = d.interpretPage(d.pages.head).map(_.c).mkString
    assert(text == "ăș", s"got codepoints ${text.map(_.toInt)}")
  }

  /** Minimal valid CFF: Name INDEX("Test"), Top DICT (charset/Encoding/
    * CharStrings via int32 operands), String INDEX("abreve"), empty Global
    * Subrs, 3 dummy charstrings; charset fmt0 maps GID1->SID 391 (abreve,
    * custom string) and GID2->SID 34 (A, standard string); encoding fmt0
    * maps GID1->code 65, GID2->code 66. */
  private def buildCff(): Array[Byte] = TestPdfs.buildCff()

  test("CFF built-in encoding: custom-string and standard-string SIDs resolve") {
    val enc = CffEncoding.builtinEncoding(buildCff())
    assert(enc.isDefined)
    assert(enc.get(65) == "abreve" && enc.get(66) == "A",
      s"got 65='${enc.get(65)}' 66='${enc.get(66)}'")
  }

  test("Type1 font with embedded CFF (/FontFile3) decodes via the program's encoding") {
    val cff = new String(buildCff(), ISO_8859_1)
    val content = "BT /F1 12 Tf 10 100 Td (AB) Tj ET"
    val objs = Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Count 1 /Kids [ 3 0 R ] >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 300 200 ] /Contents 4 0 R " +
        "/Resources << /Font << /F1 5 0 R >> >> >>",
      s"<< /Length ${content.length} >>\nstream\n$content\nendstream",
      "<< /Type /Font /Subtype /Type1 /BaseFont /Test /FontDescriptor 6 0 R >>",
      s"<< /Type /FontDescriptor /FontName /Test /Flags 4 /FontFile3 7 0 R >>",
      s"<< /Subtype /Type1C /Length ${cff.length} >>\nstream\n$cff\nendstream")
    val sb = new StringBuilder("%PDF-1.4\n")
    val offsets = scala.collection.mutable.ArrayBuffer.empty[Int]
    for ((o, i) <- objs.zipWithIndex) {
      offsets += sb.length
      sb ++= s"${i + 1} 0 obj\n$o\nendobj\n"
    }
    val xref = sb.length
    sb ++= s"xref\n0 ${objs.length + 1}\n0000000000 65535 f \n"
    offsets.foreach(o => sb ++= f"$o%010d 00000 n \n")
    sb ++= s"trailer\n<< /Size ${objs.length + 1} /Root 1 0 R >>\nstartxref\n$xref\n%%EOF\n"
    val d = new PdfDoc.Document(sb.result().getBytes(ISO_8859_1))
    val text = d.interpretPage(d.pages.head).map(_.c).mkString
    // 65 -> abreve (U+0103), 66 -> A per the CFF's own encoding vector
    assert(text == "ăA", s"got codepoints ${text.map(_.toInt)}")
  }

  test("CFF standard strings table has the spec's 229 ISOAdobe entries in order") {
    // spot pins: a wrong ordering would silently mistranslate glyphs
    val enc = CffEncoding.builtinEncoding(buildCff())
    assert(enc.isDefined) // parse sanity before the pins below
    assert(CffEncoding.standardStringsForTest.length == 229)
    val ss = CffEncoding.standardStringsForTest
    assert(ss(0) == ".notdef" && ss(1) == "space" && ss(17) == "zero" &&
      ss(34) == "A" && ss(66) == "a" && ss(96) == "exclamdown" &&
      ss(109) == "fi" && ss(110) == "fl" && ss(228) == "zcaron")
  }

  private val vocab = Vector("Analiza", "rezultatelor", "financiare", "Profit", "net",
    "43", "milioane", "RON", "(nete)", "50%", "1.234,56", "EUR", "Venituri", "T4",
    "-", "total:", "[a]", "q/b", "a\\b", "Wm", "x;y", "1%", "k)", "(z")

  /** 200 seeded SyntheticPdf documents: 1-3 pages of 1-6 lines of 1-7
    * words; every odd one spreads one line's letters with TJ kerning. */
  private def glyphCorpus: Seq[Array[Byte]] = (0 until 200).map { i =>
    val rnd = new scala.util.Random(i)
    val pages = Seq.fill(1 + rnd.nextInt(3))(Seq.fill(1 + rnd.nextInt(6))(
      Seq.fill(1 + rnd.nextInt(7))(vocab(rnd.nextInt(vocab.length))).mkString(" ")))
    val spread =
      if (i % 2 == 0) None
      else {
        val p = rnd.nextInt(pages.length)
        Some((p + 1, rnd.nextInt(pages(p).length)))
      }
    SyntheticPdf.pdfFor(pages, spread)
  }

  test("extractGlyphsAuto output digest: 200 SyntheticPdf documents") {
    // computed once; moves only when the interpreter's output does
    val md = java.security.MessageDigest.getInstance("MD5")
    var n = 0
    for (pdf <- glyphCorpus) {
      val g = PdfDoc.extractGlyphsAuto(pdf)
      for (p <- g.keys.toSeq.sorted) {
        md.update(s"p$p\n".getBytes(UTF_8))
        for (x <- g(p)) {
          n += 1
          md.update(s"${x.c}|${x.x0}|${x.y0}|${x.x1}|${x.y1}\n".getBytes(UTF_8))
        }
      }
      md.update(0: Byte)
    }
    assert(n == 23290)
    assert(md.digest().map(b => f"${b & 0xff}%02x").mkString == "384d60130ec8a6a9f3bd4aa371fbe7c0")
  }

  test("no page tree: each content stream is a 612x792 pseudo-page with Latin-1 fonts") {
    def obj(n: Int, dict: String, body: String) =
      s"$n 0 obj\n<< $dict/Length ${body.length} >>\nstream\n$body\nendstream\nendobj\n"
    val pdf = ("%PDF-1.4\n" +
      obj(1, "", "BT /F1 12 Tf 72 720 Td (Hi \\351) Tj ET") +
      obj(2, "/Type /XObject /Subtype /Image ", "BT /F1 12 Tf (img) Tj ET") +
      obj(3, "", "BT /F9 10 Tf 0 0 Td [(a) -500 (b)] TJ ET") +
      "%%EOF\n").getBytes(ISO_8859_1)
    val doc = new PdfDoc.Document(pdf)
    assert(doc.pages.map(p => (p.pageNo, p.width, p.height)) == Seq((1, 612.0, 792.0), (2, 612.0, 792.0)))
    val g = PdfDoc.extractGlyphsAuto(pdf)
    assert(g(1).map(_.c).mkString == "Hi\u00e9")
    val h = g(1).head
    assert(h.x0 == 72.0 && math.abs(h.x1 - (72 + 0.722 * 12)) < 1e-9)
    assert(math.abs(h.y0 - (792 - 729.6)) < 1e-9 && math.abs(h.y1 - (792 - 717.6)) < 1e-9)
    // the space advances by the built-in table's 278 per mille
    assert(math.abs(g(1)(2).x0 - (72 + (0.722 + 0.24 + 0.278) * 12)) < 1e-9)
    assert(g(2).map(_.c).mkString == "ab")
    assert(math.abs(g(2)(1).x0 - (0.556 + 0.5) * 10) < 1e-9)
  }

  test("a page tree with no text reads as pseudo-pages only when they have text") {
    def pdf(objs: String*): Array[Byte] = ("%PDF-1.4\n" + objs.zipWithIndex.map {
      case (o, i) => s"${i + 1} 0 obj\n$o\nendobj\n"
    }.mkString + "%%EOF\n").getBytes(ISO_8859_1)
    def stream(body: String) = s"<< /Length ${body.length} >>\nstream\n$body\nendstream"
    def page(contents: Int, font: Int) = "<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 300 200 ] " +
      s"/Contents $contents 0 R /Resources << /Font << /F1 $font 0 R >> >> >>"
    val helvetica = "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    // the only page's font object is missing: no tree page has text
    val dangling = pdf("<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Count 1 /Kids [ 3 0 R ] >>", page(4, 9),
      stream("BT /F1 12 Tf 10 150 Td (Hi) Tj ET"))
    val d = new PdfDoc.Document(dangling)
    assert(d.pages.map(p => (p.width, p.height, p.pseudo)) == Seq((612.0, 792.0, true)))
    assert(PdfDoc.extractGlyphsAuto(dangling)(1).map(_.c).mkString == "Hi")
    // another tree page has text: the tree stands, and the page whose font
    // does not resolve shows nothing
    val mixed = pdf("<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Count 2 /Kids [ 3 0 R 4 0 R ] >>", page(5, 9), page(6, 7),
      stream("BT /F1 12 Tf 10 150 Td (Hi) Tj ET"), stream("BT /F1 12 Tf 10 150 Td (Ok) Tj ET"),
      helvetica)
    assert(new PdfDoc.Document(mixed).pages.map(p => (p.width, p.pseudo)) ==
      Seq((300.0, false), (300.0, false)))
    val g = PdfDoc.extractGlyphsAuto(mixed)
    assert(g(1).isEmpty && g(2).map(_.c).mkString == "Ok")
    // no text anywhere (an image-only page): the tree's pages stand
    val image = pdf("<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Count 1 /Kids [ 3 0 R ] >>", page(4, 5),
      stream("q 300 0 0 200 0 0 cm /Im0 Do Q"), helvetica)
    assert(new PdfDoc.Document(image).pages.map(p => (p.width, p.height, p.pseudo)) ==
      Seq((300.0, 200.0, false)))
  }

  test("two classic trailers with different /Root: the last trailer's page tree is read") {
    def pdf(objs: String*): String = "%PDF-1.4\n" + objs.zipWithIndex.map {
      case (o, i) => s"${i + 1} 0 obj\n$o\nendobj\n"
    }.mkString
    def stream(body: String) = s"<< /Length ${body.length} >>\nstream\n$body\nendstream"
    def page(parent: Int, w: Int, contents: Int) =
      s"<< /Type /Page /Parent $parent 0 R /MediaBox [ 0 0 $w 200 ] " +
        s"/Contents $contents 0 R /Resources << /Font << /F1 9 0 R >> >> >>"
    val body = pdf(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Count 1 /Kids [ 3 0 R ] >>", page(2, 300, 4),
      stream("BT /F1 12 Tf 10 150 Td (Old) Tj ET"),
      "<< /Type /Catalog /Pages 6 0 R >>",
      "<< /Type /Pages /Count 1 /Kids [ 7 0 R ] >>", page(6, 400, 8),
      stream("BT /F1 12 Tf 10 150 Td (New) Tj ET"),
      "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    def withTrailers(roots: Int*): Array[Byte] = (body + roots.map(r =>
      s"trailer\n<< /Size 10 /Root $r 0 R >>\n%%EOF\n").mkString).getBytes(ISO_8859_1)
    val updated = withTrailers(1, 5)
    assert(new PdfDoc.Document(updated).pages.map(p => (p.pageNo, p.width)) == Seq((1, 400.0)))
    assert(PdfDoc.extractGlyphsAuto(updated)(1).map(_.c).mkString == "New")
    // the order of the trailers decides, not which catalog comes first
    val reverted = withTrailers(5, 1)
    assert(new PdfDoc.Document(reverted).pages.map(p => (p.pageNo, p.width)) == Seq((1, 300.0)))
    assert(PdfDoc.extractGlyphsAuto(reverted)(1).map(_.c).mkString == "Old")
  }
}
