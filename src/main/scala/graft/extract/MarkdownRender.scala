package graft.extract

import graft.model._
import graft.textkit.MarkdownPost

/** Deterministic item-tree -> Markdown renderer, following the golden
  * conventions of the reference output (examples/long_report.md): `#`/`##`
  * headings, `- ` list items, `<!-- image -->` placeholders, pipe tables
  * padded to column width with a `|---|` separator row, and
  * `\n\n<!-- page break -->\n\n` between pages (save_as_markdown contract,
  * conversion_utils.py:264-274).
  */
object MarkdownRender {
  val PageBreakMarker = s"\n\n${MarkdownPost.PageBreakPlaceholder}\n\n"

  /** docling escape_underscores=True behavior. */
  def escapeUnderscores(text: String): String =
    if (text.indexOf('_') < 0) text else text.replace("_", "\\_")

  /** Render a table as a padded pipe table (docling grid semantics: spanned
    * cells repeat their text across covered positions). */
  def renderTable(t: TableData): String = {
    if (t.numRows <= 0 || t.numCols <= 0) return ""
    val grid = Array.fill(t.numRows, t.numCols)("")
    for (cell <- t.cells; r <- cell.startRow until math.min(cell.endRow, t.numRows);
         c <- cell.startCol until math.min(cell.endCol, t.numCols))
      grid(r)(c) = Option(cell.text).getOrElse("")
    val widths = Array.tabulate(t.numCols) { c =>
      (0 until t.numRows).map(r => grid(r)(c).length).max
    }
    val sb = new StringBuilder
    def renderRow(r: Int): Unit = {
      sb += '|'
      var c = 0
      while (c < t.numCols) {
        sb += ' '
        sb ++= grid(r)(c).padTo(widths(c), ' ')
        sb ++= " |"
        c += 1
      }
    }
    renderRow(0)
    sb += '\n'
    sb += '|'
    for (c <- 0 until t.numCols) { sb ++= "-" * (widths(c) + 2); sb += '|' }
    var r = 1
    while (r < t.numRows) {
      sb += '\n'
      renderRow(r)
      r += 1
    }
    sb.result()
  }

  /** Image render modes (cli.py:72-81,198-208): placeholder is the
    * reference default; referenced emits a relative artifact link named by
    * a sequential reading-order counter; embedded inlines a data URI when
    * the picture carries payload bytes in its text channel (base64), else
    * falls back to the placeholder. */
  object ImageMode {
    val Placeholder = "placeholder"
    val Referenced = "referenced"
    val Embedded = "embedded"
  }

  private def renderPicture(item: DocItem, imageMode: String, ordinal: Int): String =
    imageMode match {
      // sequential reading-order counter (the artifact exporter writes
      // image_0, image_1, ... in the same order), NOT the item idx — idx has
      // gaps after transforms delete items
      case ImageMode.Referenced => s"![Image](artifacts/image_$ordinal.png)"
      case ImageMode.Embedded =>
        // picture payloads ride the text channel as base64 when a decoder
        // upstream materialized them; without bytes fall back to the
        // placeholder (docling behavior), which the post-chain removes
        val payload = Option(item.text).getOrElse("")
        if (payload.startsWith("base64:"))
          s"![Image](data:image/png;base64,${payload.stripPrefix("base64:")})"
        else "<!-- image -->"
      case _ => "<!-- image -->"
    }

  /** Whether an item is exported at all: body layer and an export label
    * (conversion_utils.py:169-177). */
  private def exported(item: DocItem): Boolean =
    item.contentLayer == ContentLayer.Body && Label.ExportLabels.contains(item.label)

  /** Render one item to its markdown block (None = item not exported).
    * `pictureOrdinal` is the 0-based reading-order picture counter used by
    * the referenced image mode. */
  private def renderItem(item: DocItem, imageMode: String, pictureOrdinal: Int): Option[String] = {
    if (!exported(item)) return None
    item.kind match {
      case ItemKind.Picture => Some(renderPicture(item, imageMode, pictureOrdinal))
      case ItemKind.Table => item.table.map(renderTable).filter(_.nonEmpty)
      case ItemKind.KeyValue =>
        // one list line per pair — keeps every token in the body export
        item.kv.filter(_.nonEmpty).map(_.map(p =>
          "- " + escapeUnderscores(p.key) + ": " + escapeUnderscores(p.value))
          .mkString("\n"))
      case _ =>
        val text = Option(item.text).getOrElse("")
        if (text.isEmpty) None
        else item.label match {
          case Label.Title => Some("# " + escapeUnderscores(text))
          case Label.SectionHeader => Some("## " + escapeUnderscores(text))
          case Label.ListItem => Some("- " + escapeUnderscores(text))
          case _ => Some(escapeUnderscores(text))
        }
    }
  }

  /** Full document render with page-break markers between page transitions.
    * Consecutive plain-text children of the same picture are joined into ONE
    * space-separated block, mirroring docling-core's serializer (see
    * examples/long_report.md: chart-internal text items emit as one line);
    * non-text children (e.g. section_header chart titles) keep their own
    * blocks. */
  def render(doc: Doc, imageMode: String = ImageMode.Placeholder): String = {
    val sb = new StringBuilder
    var lastPage = -1
    var first = true
    def emit(block: String, pageNo: Int): Unit = {
      if (!first) {
        if (pageNo != lastPage && lastPage != -1) sb ++= PageBreakMarker
        else sb ++= "\n\n"
      }
      sb ++= block
      first = false
      lastPage = pageNo
    }
    val joinBuf = new StringBuilder
    var joinParent = -1
    var joinPage = -1
    def flushJoin(): Unit = {
      if (joinBuf.nonEmpty) emit(joinBuf.result(), joinPage)
      joinBuf.clear()
      joinParent = -1
    }
    var picOrdinal = 0
    for (item <- doc.items) {
      val joinable = item.parentIdx >= 0 && item.kind == ItemKind.Text &&
        item.label == Label.Text
      if (!joinable || item.parentIdx != joinParent) flushJoin()
      renderItem(item, imageMode, picOrdinal).foreach { block =>
        if (joinable) {
          if (joinBuf.nonEmpty) joinBuf += ' '
          joinBuf ++= block
          joinParent = item.parentIdx
          joinPage = item.pageNo
        } else emit(block, item.pageNo)
        // ordinal counts EXPORTED pictures only, so referenced-mode links
        // stay dense (image_0, image_1, ...) and in sync with an artifact
        // exporter that writes one file per emitted picture block
        if (item.kind == ItemKind.Picture) picOrdinal += 1
      }
      // page transitions are tracked on exported items only, mirroring how
      // save_as_markdown only emits breaks between exported content
    }
    flushJoin()
    sb.result()
  }

  /** Plain-text export used as the audit's PDF-side text
    * (doc.export_to_text analog): exported text content plus table cell
    * text, one block per line group. */
  def renderPlainText(doc: Doc): String = {
    val out = new StringBuilder
    for (item <- doc.items) {
      if (exported(item)) {
        item.kind match {
          case ItemKind.Picture => ()
          case ItemKind.KeyValue =>
            // one key/value per line, like table cells: a space join would
            // let the space-grouped number pattern merge adjacent values
            item.kv.foreach(_.foreach { p =>
              if (p.key.nonEmpty) { if (out.nonEmpty) out += '\n'; out ++= p.key }
              if (p.value.nonEmpty) { if (out.nonEmpty) out += '\n'; out ++= p.value }
            })
          case ItemKind.Table =>
            item.table.foreach { t =>
              // one cell per line: a space join would let the space-grouped
              // number pattern (audit_utils.py:14-16) merge adjacent cells
              for (row <- 0 until t.numRows;
                   cell <- t.cells.filter(_.startRow == row).sortBy(_.startCol)) {
                val text = Option(cell.text).getOrElse("")
                if (text.nonEmpty) { if (out.nonEmpty) out += '\n'; out ++= text }
              }
            }
          case _ =>
            val text = Option(item.text).getOrElse("")
            if (text.nonEmpty) { if (out.nonEmpty) out += '\n'; out ++= text }
        }
      }
    }
    out.result()
  }

  /** The reference's markdown post-chain in exact order
    * (conversion_utils.py:276-284), which always removes image
    * placeholders. */
  def postProcess(markdown: String): String = {
    var md = MarkdownPost.addVisiblePageMarkers(markdown)
    md = MarkdownPost.reduceMarkdownNoise(md, removeImagePlaceholders = true)
    md = MarkdownPost.normalizeKpiBlocks(md)
    md = MarkdownPost.removeOrphanHeadings(md)
    md = MarkdownPost.removeAxisLikeLines(md)
    md
  }
}
