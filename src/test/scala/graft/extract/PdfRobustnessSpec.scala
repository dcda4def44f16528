package graft.extract

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ReferenceExamples

/** Crawl-robustness: a 10^12-document corpus contains truncated, corrupted,
  * and adversarial PDF payloads; extractOne must degrade (fewer/zero items),
  * never throw — a single poison row must not kill a 100 TB task. */
class PdfRobustnessSpec extends AnyFunSuite {
  private lazy val real = ReferenceExamples.bytes("long_report.pdf")

  private def runOne(bytes: Array[Byte]): Unit = {
    val row = Pipeline.extractOne("doc://t", bytes, "ro", 0)
    assert(row != null)
  }

  test("truncated real PDF at many cut points never throws") {
    // cut points chosen to land inside the header, object bodies, stream
    // payloads, the xref table, and the trailer
    val cuts = Seq(6, 100, 4096, 65536, real.length / 4, real.length / 2,
      real.length - 2000, real.length - 10)
    for (cut <- cuts) runOne(java.util.Arrays.copyOf(real, cut))
  }

  test("bit-flipped real PDF never throws") {
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 4) {
      val mutated = real.clone()
      for (_ <- 0 until 64) {
        val i = rnd.nextInt(mutated.length)
        mutated(i) = (mutated(i) ^ (1 << rnd.nextInt(8))).toByte
      }
      runOne(mutated)
    }
  }

  /** In-repo seed PDFs, one per reader path: classic xref + plain content
    * stream, classic xref + Flate content, PDF 1.5 (object stream, Flate,
    * xref stream with a PNG predictor), and TestPdfs' hand-assembled
    * xref-stream file. */
  private lazy val seeds: Seq[(String, Array[Byte])] = {
    val (plain, doc) = graft.sources.SyntheticPdfPages.pdfDoc(42L, 0L)
    val (flate, _) = graft.sources.SyntheticPdfPages.pdfDoc(42L, 1L)
    val lines = doc.pages.toSeq.map(pg => doc.items.toSeq.filter(_.pageNo == pg.pageNo)
      .map(_.text.take(52)).filter(_.nonEmpty))
    Seq("classic" -> plain, "classic-flate" -> flate,
      "pdf-1.5" -> SyntheticPdf.pdfFor15(lines),
      "xref-stream" -> TestPdfs.buildXrefStreamPdf())
  }

  /** The seed cut at every 1/64 of its length. */
  private def truncations(pdf: Array[Byte]): Seq[Array[Byte]] =
    (0 until 64).map(k => java.util.Arrays.copyOf(pdf, (pdf.length.toLong * k / 64).toInt))

  /** 200 mutants per seed with 1-8 flipped bits each, drawn in seed order
    * from one fixed Random. */
  private lazy val bitFlips: Seq[Seq[Array[Byte]]] = {
    val rnd = new scala.util.Random(42)
    seeds.map { case (_, pdf) =>
      (0 until 200).map { _ =>
        val mutated = pdf.clone()
        for (_ <- 0 until 1 + rnd.nextInt(8)) {
          val i = rnd.nextInt(mutated.length)
          mutated(i) = (mutated(i) ^ (1 << rnd.nextInt(8))).toByte
        }
        mutated
      }
    }
  }

  test("truncated synthetic seed PDFs at every 1/64 cut point never throw") {
    for ((name, pdf) <- seeds) {
      truncations(pdf).foreach(runOne)
      // the uncut seed parses to content, so the cuts above start from it
      assert(Pipeline.extractOne("doc://t", pdf, "ro", 0).item_count > 0,
        s"$name seed parsed to no items")
    }
  }

  test("bit-flipped synthetic seed PDFs never throw (fixed seed)") {
    bitFlips.flatten.foreach(runOne)
  }

  test("truncated and bit-flipped seeds still yield items at least as often as before") {
    // floors (seed, truncations with items, bit flips with items): the
    // counts of the reader this one replaced, which fell back to a regex
    // stream scan for files without a page tree
    val floor = Seq(("classic", 52, 177), ("classic-flate", 38, 144), ("pdf-1.5", 42, 60),
      ("xref-stream", 25, 128))
    def withItems(ms: Seq[Array[Byte]]): Int =
      ms.count(Pipeline.extractOne("doc://t", _, "ro", 0).item_count > 0)
    val got = seeds.zip(bitFlips).map { case ((name, pdf), flips) =>
      (name, withItems(truncations(pdf)), withItems(flips))
    }
    assert(got.map(_._1) == floor.map(_._1))
    for (((name, t, f), (_, t0, f0)) <- got.zip(floor))
      assert(t >= t0 && f >= f0, s"$name: $t/64 truncations, $f/200 bit flips with items")
  }

  test("adversarial minimal payloads never throw") {
    val cases = Seq(
      "%PDF-1.5\n%%EOF\n",
      "%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 1 0 R >>\nendobj\n", // self-cycle
      "%PDF-1.4\n1 0 obj\n<< /Length 999999 >>\nstream\nabc", // lying length
      "%PDF-1.4\n1 0 obj\n<<\nendobj\n", // unterminated dict
      "%PDF-1.7\n" + "(((((" * 100, // unbalanced strings
      "%PDF-1.5\n1 0 obj\n<< /Type /ObjStm /N 99 /First 2 /Length 4 >>\nstream\nzzzz\nendstream\nendobj\n")
    for (c <- cases) runOne(c.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
  }

  test("truncated/bit-flipped xref-stream PDFs never throw (predictor + binary rows)") {
    val xs = TestPdfs.buildXrefStreamPdf()
    val cuts = Seq(6, 64, xs.length / 3, xs.length / 2, xs.length - 40, xs.length - 5)
    for (cut <- cuts) runOne(java.util.Arrays.copyOf(xs, cut))
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 8) {
      val mutated = xs.clone()
      for (_ <- 0 until 16) {
        val i = rnd.nextInt(mutated.length)
        mutated(i) = (mutated(i) ^ (1 << rnd.nextInt(8))).toByte
      }
      runOne(mutated)
    }
    // corrupt xref-stream geometry specifically: lying /W, hostile /Index
    val s = new String(xs, java.nio.charset.StandardCharsets.ISO_8859_1)
    runOne(s.replace("/W [ 1 4 2 ]", "/W [ 9 9 9 ]")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    runOne(s.replace("/Size 8", "/Size 8 /Index [ 0 99999999 ]")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    runOne(s.replace("/DecodeParms << /Predictor 12 /Columns 7 >>",
        "/DecodeParms << /Predictor 12 /Columns 999999 >>")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
  }

  test("glyph extraction on the real PDF is deterministic across calls") {
    val a = PdfDoc.extractGlyphsAuto(real)
    val b = PdfDoc.extractGlyphsAuto(real)
    assert(a.values.exists(_.nonEmpty)) // a reader that throws reads nothing
    assert(a.keySet == b.keySet)
    for (p <- a.keySet) assert(a(p) == b(p))
  }
}
