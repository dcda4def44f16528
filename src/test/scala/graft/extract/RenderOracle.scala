package graft.extract

import graft.model._
import graft.textkit.MarkdownPost

/** Frozen copy of the markdown renderer, the plain-text export and the
  * backend probe's page-1 score as they stood before they wrote into one
  * presized builder (a filtered `Doc` copy for the probe, a `padTo` string
  * per table cell). TransformOracleSpec runs the engine against it. */
object OracleMarkdownRender {
  private val PageBreakMarker = s"\n\n${MarkdownPost.PageBreakPlaceholder}\n\n"

  private def escapeUnderscores(text: String): String =
    if (text.indexOf('_') < 0) text else text.replace("_", "\\_")

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

  private def renderPicture(item: DocItem, imageMode: String, ordinal: Int): String =
    imageMode match {
      case MarkdownRender.ImageMode.Referenced => s"![Image](artifacts/image_$ordinal.png)"
      case MarkdownRender.ImageMode.Embedded =>
        val payload = Option(item.text).getOrElse("")
        if (payload.startsWith("base64:"))
          s"![Image](data:image/png;base64,${payload.stripPrefix("base64:")})"
        else "<!-- image -->"
      case _ => "<!-- image -->"
    }

  private def exported(item: DocItem): Boolean =
    item.contentLayer == ContentLayer.Body && Label.ExportLabels.contains(item.label)

  private def renderItem(item: DocItem, imageMode: String, pictureOrdinal: Int): Option[String] = {
    if (!exported(item)) return None
    item.kind match {
      case ItemKind.Picture => Some(renderPicture(item, imageMode, pictureOrdinal))
      case ItemKind.Table => item.table.map(renderTable).filter(_.nonEmpty)
      case ItemKind.KeyValue =>
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

  def render(doc: Doc, imageMode: String = MarkdownRender.ImageMode.Placeholder): String = {
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
        if (item.kind == ItemKind.Picture) picOrdinal += 1
      }
    }
    flushJoin()
    sb.result()
  }

  def renderPlainText(doc: Doc): String = {
    val out = new StringBuilder
    for (item <- doc.items) {
      if (exported(item)) {
        item.kind match {
          case ItemKind.Picture => ()
          case ItemKind.KeyValue =>
            item.kv.foreach(_.foreach { p =>
              if (p.key.nonEmpty) { if (out.nonEmpty) out += '\n'; out ++= p.key }
              if (p.value.nonEmpty) { if (out.nonEmpty) out += '\n'; out ++= p.value }
            })
          case ItemKind.Table =>
            item.table.foreach { t =>
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

  def probePage1Score(doc: Doc): Int = {
    val firstPage = if (doc.pages.isEmpty) 1 else doc.pages(0).pageNo
    val page1 = doc.copy(items = doc.items.filter(_.pageNo == firstPage))
    graft.textkit.OracleQuality.scoreMarkdown(render(page1)).score
  }
}
