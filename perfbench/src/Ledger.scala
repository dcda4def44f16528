package perfbench

import graft.extract.{DocTransforms, HtmlExtract, MarkdownRender, PdfDoc, PdfLayout, Pipeline, SpacingFix}
import graft.model.Doc
import graft.textkit.MarkdownPost
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

/** Single-thread layer ledger: chains the engine's public calls in
  * `Pipeline.extractOne`'s order under the default `ExtractOptions`
  * (backend probe on, OCR off, spacing fix on, no page restriction,
  * placeholder images) and times each call. Under those options the page
  * restriction and the suspect-cell repair are identities, so the chain must
  * reproduce `extractOne`'s markdown and text exactly; every document where
  * it does not counts in `trace.ledger_mismatch_docs`. */
object Ledger {
  val TransformPasses = Seq("collapse_groups", "headers", "clean_cells", "currencies",
    "picture_dates", "picture_axis", "kpi_captions", "whitespace")
  val PostPasses = Seq("page_markers", "noise", "kpi_blocks", "orphan_headings", "axis_lines")

  final class Totals {
    val ns = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)
    var docs = 0
    var mismatches = 0
    var allocBytes = 0L
  }

  private val threadBean = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  private def isPdf(b: Array[Byte]): Boolean =
    b.length >= 5 && new String(b, 0, 5, UTF_8) == "%PDF-"

  /** Runs the chain and `extractOne` on every sample document. */
  def run(sample: Seq[(String, Array[Byte], String)]): Totals = {
    val t = new Totals
    def timed[A](key: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      t.ns(key) += System.nanoTime() - t0
      r
    }
    for ((url, bytes, lang) <- sample) {
      var doc: Doc = null
      if (isPdf(bytes)) {
        doc = timed("pdf_layout")(PdfLayout.buildDoc(url, bytes))
        val pages = timed("spacing_detect")(SpacingFix.detectSpacingPages(doc))
        if (!pages.exists(_.isEmpty)) doc = timed("glyph_repair") {
          SpacingFix.fixSpacedItems(doc, PdfDoc.extractGlyphsAuto(bytes), pages)._1
        }
      } else {
        val parsed = timed("html_parse")(HtmlExtract.parseDetailed(url, new String(bytes, UTF_8)))
        val std = SpacingFix.Backends.head
        doc = timed("apply_config")(
          HtmlExtract.applyConfig(parsed, std.linkDensityThreshold, std.minContentChars))
        val stdScore = timed("probe")(SpacingFix.probePage1Score(doc))
        if (stdScore < 100) {
          val agg = SpacingFix.Backends(1)
          val aggDoc = timed("apply_config")(
            HtmlExtract.applyConfig(parsed, agg.linkDensityThreshold, agg.minContentChars))
          if (timed("probe")(SpacingFix.probePage1Score(aggDoc)) > stdScore) doc = aggDoc
        }
      }
      val passes: Seq[Doc => (Doc, Int)] = Seq(
        DocTransforms.collapseDocTableGroups, DocTransforms.normalizeDocTableHeaders,
        DocTransforms.cleanDocTableCells, DocTransforms.normalizeDocTableCurrencies,
        DocTransforms.removeDateOnlyTextInsidePictures(_), DocTransforms.removeAxisTextInsidePictures(_),
        SpacingFix.addPictureKpiCaptionsFromItems(_), DocTransforms.normalizeDocTextWhitespace)
      for ((name, pass) <- TransformPasses.zip(passes))
        doc = timed(s"transforms.$name")(pass(doc)._1)
      var md = timed("render")(MarkdownRender.render(doc))
      val post: Seq[String => String] = Seq(
        MarkdownPost.addVisiblePageMarkers(_),
        MarkdownPost.reduceMarkdownNoise(_, removeImagePlaceholders = true),
        MarkdownPost.normalizeKpiBlocks(_), MarkdownPost.removeOrphanHeadings(_),
        MarkdownPost.removeAxisLikeLines(_))
      for ((name, pass) <- PostPasses.zip(post)) md = timed(s"post.$name")(pass(md))
      val text = timed("plain_text")(MarkdownRender.renderPlainText(doc))

      val tid = Thread.currentThread().getId
      val a0 = threadBean.getThreadAllocatedBytes(tid)
      val row = timed("extract_one")(Pipeline.extractOne(url, bytes, lang, 0))
      t.allocBytes += threadBean.getThreadAllocatedBytes(tid) - a0
      if (row.markdown != md || row.text != text) t.mismatches += 1
      t.docs += 1
    }
    t
  }
}
