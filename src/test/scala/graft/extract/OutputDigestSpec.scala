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
  import OutputDigestSpec.{crawlDoc, linesOf}

  private def hex(d: Array[Byte]): String = d.map(b => f"${b & 0xff}%02x").mkString

  private def digest(docs: Seq[(String, Array[Byte])]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    for ((url, bytes) <- docs) {
      val row = Pipeline.extractOne(url, bytes, "ro", 0)
      md.update(url.getBytes(UTF_8)); md.update(0: Byte)
      md.update(row.markdown.getBytes(UTF_8)); md.update(0: Byte)
      md.update(row.text.getBytes(UTF_8)); md.update(0: Byte)
    }
    hex(md.digest())
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

  test("synthetic PDF writers: input-bytes digest of every layout") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def add(bytes: Array[Byte]): Unit = { md.update(bytes); md.update(0: Byte) }
    // string-escape cases first: parentheses and backslashes in Tj and TJ runs
    val escapes = Seq(Seq("Venituri (nete) 50%", "cale C:\\date\\(a)"), Seq("ultima pagina)"))
    val pageSets = escapes +: (0 until 20).map(i => linesOf(SyntheticPdfPages.pdfDoc(7L, i.toLong)._2))
    for ((pages, k) <- pageSets.zipWithIndex) {
      add(SyntheticPdf.pdfFor(pages))
      add(SyntheticPdf.pdfFor(pages, spreadLetterLine = Some((1, k % 2))))
      add(SyntheticPdf.pdfFor15(pages))
      for (cipher <- Seq("rc4", "aesv2", "aesv3"))
        add(SyntheticPdf.pdfForEncrypted(pages, cipher, k.toLong))
    }
    // the classic multi-size writer: even documents plain, odd ones Flate
    for (i <- 0 until 200) add(SyntheticPdfPages.pdfDoc(42L, i.toLong)._1)
    val got = hex(md.digest())
    assert(got == "9f9789fd6f5d2939b9653ed16e4df716", s"writers digest $got")
  }

  test("extractOne output digest: q45 and q48 docling payloads of the sf0.001 driver documents") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val driver = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1).toSeq
    val q45 = driver.map { case (id, text) =>
      (s"doc://$id", graft.ops.ExtractOps.doclingJsonFromText(id, text).getBytes(UTF_8)) }
    val q48 = driver.map { case (id, text) =>
      val phrase = text.split(" ").take(6).mkString(" ")
      (s"doc://$id", graft.ops.ExtractOps.letterSpacedDoclingJson(id, phrase).getBytes(UTF_8)) }
    val got = (digest(q45), digest(q48))
    assert(got == ("fe27c74dd05c82c638331660998313ac", "faa21a2370613078fc03a4791cb58b66"),
      s"docling payload digests $got")
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
