package graft.sources

import graft.model._
import graft.extract.SyntheticPdf
import graft.extract.SyntheticPdf.SizedLine
import java.util.Random

/** Deterministic PDF corpus: the same content-plan idea as the HTML
  * generator, rendered as positioned PDF text (title 18pt, headings 14pt,
  * body 12pt, list lines). Expected Doc items are built alongside, so the
  * PDF layout parse (`PdfLayout.buildDoc`) is verified structurally and the
  * downstream pipeline byte-identically. Odd docs are FlateDecode-compressed.
  */
object SyntheticPdfPages {
  private val Paragraphs = Array(
    "Compania a inregistrat rezultate solide in primele noua luni ale anului curent iar perspectivele raman favorabile pentru perioada urmatoare",
    "Cresterea productiei a sustinut avansul veniturilor operationale in toate segmentele de activitate relevante pentru grup",
    "Investitiile strategice au vizat automatizarea proceselor si extinderea capacitatii de procesare la nivelul intregii retele",
    "Fluxul de numerar operational a acoperit integral necesarul de investitii curente fara finantare suplimentara externa")

  private val Headings = Array(
    "Analiza rezultatelor financiare", "Pozitia financiara consolidata",
    "Evolutia fluxurilor de numerar", "Structura costurilor operationale")

  private val TableLabels = Array(
    "CIFRA DE AFACERI", "CHELTUIELI TOTALE", "PROFIT NET", "ACTIVE TOTALE")
  private val TableDirty = Array(
    "168.506.901 RON", "84 % 84 %", "RON 471.371]", "1 234.567")
  private val TableClean = Array("RON 158.065.856", "EUR 36.549.554", "24,66%")

  private val ListItems = Array(
    "Majorarea capitalului social subscris",
    "Extinderea suprafetei agricole exploatate",
    "Optimizarea structurii de finantare")

  def url(i: Long): String = s"https://corpus.example/pdf/doc-$i.pdf"

  /** Longest wrapped body line, in characters. */
  private val WrapWidth = 52

  /** Wrap a paragraph at [[WrapWidth]] characters (deterministic). */
  private def wrap(text: String): Seq[String] = {
    val words = text.split(" ")
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    for (w <- words) {
      if (cur.nonEmpty && cur.length + 1 + w.length > WrapWidth) {
        lines += cur.result(); cur.clear()
      }
      if (cur.nonEmpty) cur += ' '
      cur ++= w
    }
    if (cur.nonEmpty) lines += cur.result()
    lines.toSeq
  }

  /** (pdf bytes, expected parsed Doc). */
  def pdfDoc(seed: Long, i: Long): (Array[Byte], Doc) = {
    val rng = new Random(seed ^ (i * 0x9E3779B97F4A7C15L) ^ 0x5DEECE66DL)
    val nPages = 1 + rng.nextInt(3)
    val u = url(i)
    val pages = scala.collection.mutable.ArrayBuffer.empty[Seq[SizedLine]]
    val items = scala.collection.mutable.ArrayBuffer.empty[DocItem]
    val pageDims = scala.collection.mutable.ArrayBuffer.empty[PageDim]
    var idx = 0
    def add(label: String, pageNo: Int, text: String): Unit = {
      // bbox filled by the parser; structural expectation ignores it
      items += DocItem(idx, ItemKind.Text, label, ContentLayer.Body, pageNo, None, text, None)
      idx += 1
    }

    for (p <- 1 to nPages) {
      pageDims += PageDim(p, 612.0, 792.0)
      val lines = scala.collection.mutable.ArrayBuffer.empty[SizedLine]
      if (p == 1) {
        val title = "Raport anual " + (2020 + (i % 6))
        lines += SizedLine(title, 18, 0)
        add(Label.Title, p, title)
      }
      val nSections = 1 + rng.nextInt(2)
      for (sIdx <- 0 until nSections) {
        val heading = Headings(rng.nextInt(Headings.length))
        lines += SizedLine(heading, 14, if (lines.isEmpty) 0 else 30)
        add(Label.SectionHeader, p, heading)
        val nParas = 1 + rng.nextInt(2)
        for (_ <- 0 until nParas) {
          val para = Paragraphs(rng.nextInt(Paragraphs.length))
          val wrapped = wrap(para)
          for ((line, li) <- wrapped.zipWithIndex)
            lines += SizedLine(line, 12, if (li == 0) 30 else 14)
          add(Label.Text, p, wrapped.mkString(" "))
        }
        // a 4-column table block: aligned cell runs across >= 3 rows
        if (rng.nextInt(2) == 0) {
          val colX = Seq(72.0, 250.0, 400.0, 545.0)
          val nRows = 3 + rng.nextInt(2)
          val cellGrid = (0 until nRows).map { r =>
            if (r == 0) Seq("Indicatori", "30/09/2025", "30/09/2024", "Delta")
            else Seq(TableLabels(rng.nextInt(TableLabels.length)),
              TableDirty(rng.nextInt(TableDirty.length)),
              TableClean(rng.nextInt(TableClean.length)),
              (1 + rng.nextInt(99)) + ",5%")
          }
          for ((row, r) <- cellGrid.zipWithIndex)
            lines += SizedLine("", 12, if (r == 0) 30 else 16, cells = colX.zip(row))
          val cells = for ((row, r) <- cellGrid.zipWithIndex; (t, c) <- row.zipWithIndex)
            yield graft.model.TableCell(r, r + 1, c, c + 1, 1, 1, t,
              columnHeader = r == 0, rowHeader = false, rowSection = false,
              fillable = false, bbox = None)
          items += DocItem(idx, ItemKind.Table, Label.Table, ContentLayer.Body, p, None, "",
            Some(graft.model.TableData(nRows, 4, cells.toArray)))
          idx += 1
        }
        if (sIdx == nSections - 1 && rng.nextInt(2) == 0) {
          val n = 2 + rng.nextInt(2)
          for (k <- 0 until n) {
            val item = ListItems(k % ListItems.length)
            lines += SizedLine("- " + item, 12, if (k == 0) 30 else 14)
            add(Label.ListItem, p, item)
          }
        }
      }
      pages += lines.toSeq
    }
    val pdf = SyntheticPdf.pdfSized(pages.toSeq, compress = i % 2 == 1)
    (pdf, Doc(u, items.toArray, pageDims.toArray))
  }
}
