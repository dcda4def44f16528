package graft.extract

import graft.model.{Doc, ItemKind}
import graft.sources.{SyntheticPages, SyntheticPdfPages}
import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite

/** Pins the md5 of every `(markdown, text)` that `Pipeline.extractOne`
  * produces over two fixed corpora. `SyntheticPages.expectedMarkdown` runs
  * the same transforms it checks, so it cannot show a transform's output
  * drifting; these constants were computed once and do not move unless the
  * engine's output does. */
class OutputDigestSpec extends AnyFunSuite {
  import OutputDigestSpec.crawlDoc

  private def digest(docs: Seq[(String, Array[Byte])]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    for ((url, bytes) <- docs) {
      val row = Pipeline.extractOne(url, bytes, "ro", 0)
      md.update(url.getBytes(UTF_8)); md.update(0: Byte)
      md.update(row.markdown.getBytes(UTF_8)); md.update(0: Byte)
      md.update(row.text.getBytes(UTF_8)); md.update(0: Byte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  test("extractOne output digest: 400 SyntheticPages documents, seed 42") {
    val docs = (0 until 400).map { i => val p = SyntheticPages.page(42L, i.toLong); (p.url, p.html) }
    assert(digest(docs) == "da0569540f9b6cf3f9ccde79407f7f8a")
  }

  test("extractOne output digest: 240 crawl-mix documents (giant, templates, PDFs), seed 42") {
    val docs = (0 until 240).map(crawlDoc(42L, _))
    assert(docs.count(d => new String(d._2, 0, 8, UTF_8).startsWith("%PDF-1.5")) == 12)
    assert(digest(docs) == "ebedb752ff9c1dd0dc048479129a5dea")
  }
}

object OutputDigestSpec {
  /** Page lines of a generated document for the PDF 1.5 writer: text items
    * wrapped at 52 characters, one line per table row. */
  private def linesOf(doc: Doc): Seq[Seq[String]] =
    doc.pages.toSeq.map { pg =>
      doc.items.toSeq.filter(_.pageNo == pg.pageNo).flatMap { it =>
        if (it.kind == ItemKind.Table) it.table.toSeq.flatMap(t =>
          t.cells.groupBy(_.startRow).toSeq.sortBy(_._1)
            .map(_._2.sortBy(_.startCol).map(_.text).mkString("  ")))
        else it.text.split(" ").foldLeft(Vector.empty[String]) { (lines, w) =>
          if (lines.nonEmpty && lines.last.length + 1 + w.length <= 52)
            lines.init :+ (lines.last + " " + w)
          else lines :+ w
        }
      }
    }

  /** The skewed crawl mix: skew pages (i = 0 is the 100x giant), with
    * i % 10 in {5, 8} replaced by PDFs — odd ones Flate-compressed classic
    * files, i % 20 == 8 rewritten in the PDF 1.5 layout. */
  def crawlDoc(seed: Long, i: Int): (String, Array[Byte]) =
    if (i % 10 == 5 || i % 10 == 8) {
      val (classic, doc) = SyntheticPdfPages.pdfDoc(seed, i.toLong)
      (SyntheticPdfPages.url(i.toLong),
        if (i % 20 == 8) SyntheticPdf.pdfFor15(linesOf(doc)) else classic)
    } else {
      val p = SyntheticPages.skewPage(seed, i.toLong)
      (p.url, p.html)
    }
}
