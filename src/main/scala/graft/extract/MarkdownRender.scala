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

  /** Render a table as a padded pipe table (docling grid semantics: spanned
    * cells repeat their text across covered positions). */
  def renderTable(t: TableData): String = {
    val sb = new java.lang.StringBuilder(64)
    appendTable(sb, t)
    sb.toString
  }

  /** Whether [[renderTable]] gives a non-empty table. */
  private def hasGrid(t: TableData): Boolean = t.numRows > 0 && t.numCols > 0

  /** Appends [[renderTable]]'s text: each cell and its padding are written
    * straight into `sb`, which is grown once to the table's exact size. */
  private def appendTable(sb: java.lang.StringBuilder, t: TableData): Unit = {
    if (!hasGrid(t)) return
    val rows = t.numRows
    val cols = t.numCols
    // null stands for an empty cell
    val grid = Array.ofDim[String](rows, cols)
    for (cell <- t.cells) {
      val text = if (cell.text == null) "" else cell.text
      var r = cell.startRow
      val re = math.min(cell.endRow, rows)
      while (r < re) {
        var c = cell.startCol
        val ce = math.min(cell.endCol, cols)
        while (c < ce) { grid(r)(c) = text; c += 1 }
        r += 1
      }
    }
    val widths = new Array[Int](cols)
    var lineLength = 1
    var c = 0
    while (c < cols) {
      var w = 0
      var r = 0
      while (r < rows) {
        val cell = grid(r)(c)
        if (cell != null && cell.length > w) w = cell.length
        r += 1
      }
      widths(c) = w
      lineLength += w + 3
      c += 1
    }
    sb.ensureCapacity(sb.length + (rows + 1) * (lineLength + 1))
    def row(r: Int): Unit = {
      sb.append('|')
      var c = 0
      while (c < cols) {
        sb.append(' ')
        val cell = grid(r)(c)
        var pad = widths(c)
        if (cell != null) { sb.append(cell); pad -= cell.length }
        while (pad > 0) { sb.append(' '); pad -= 1 }
        sb.append(" |")
        c += 1
      }
    }
    row(0)
    sb.append("\n|")
    c = 0
    while (c < cols) {
      var dashes = widths(c) + 2
      while (dashes > 0) { sb.append('-'); dashes -= 1 }
      sb.append('|')
      c += 1
    }
    var r = 1
    while (r < rows) {
      sb.append('\n')
      row(r)
      r += 1
    }
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

  /** Appends the picture's block. */
  private def appendPicture(sb: java.lang.StringBuilder, item: DocItem, imageMode: String,
                            ordinal: Int): Unit =
    imageMode match {
      // sequential reading-order counter (the artifact exporter writes
      // image_0, image_1, ... in the same order), NOT the item idx — idx has
      // gaps after transforms delete items
      case ImageMode.Referenced => sb.append("![Image](artifacts/image_").append(ordinal).append(".png)")
      case ImageMode.Embedded =>
        // picture payloads ride the text channel as base64 when a decoder
        // upstream materialized them; without bytes fall back to the
        // placeholder (docling behavior), which the post-chain removes
        val payload = item.text
        if (payload != null && payload.startsWith("base64:"))
          sb.append("![Image](data:image/png;base64,").append(payload, 7, payload.length).append(')')
        else sb.append("<!-- image -->")
      case _ => sb.append("<!-- image -->")
    }

  /** Whether an item is exported at all: body layer and an export label
    * (conversion_utils.py:169-177). */
  private def exported(item: DocItem): Boolean =
    item.contentLayer == ContentLayer.Body && Label.ExportLabels.contains(item.label)

  /** Whether an item renders to a markdown block. */
  private def renders(item: DocItem): Boolean =
    exported(item) && (item.kind match {
      case ItemKind.Picture => true
      case ItemKind.Table => item.table.exists(hasGrid)
      case ItemKind.KeyValue => item.kv.exists(_.nonEmpty)
      case _ => item.text != null && item.text.nonEmpty
    })

  /** Appends the block of an item that [[renders]]. `pictureOrdinal` is the
    * 0-based reading-order picture counter used by the referenced image
    * mode. */
  private def appendItem(sb: java.lang.StringBuilder, item: DocItem, imageMode: String,
                         pictureOrdinal: Int): Unit =
    item.kind match {
      case ItemKind.Picture => appendPicture(sb, item, imageMode, pictureOrdinal)
      case ItemKind.Table => appendTable(sb, item.table.get)
      case ItemKind.KeyValue =>
        // one list line per pair — keeps every token in the body export
        var first = true
        for (p <- item.kv.get) {
          if (!first) sb.append('\n')
          sb.append("- ")
          appendEscaped(sb, p.key)
          sb.append(": ")
          appendEscaped(sb, p.value)
          first = false
        }
      case _ =>
        item.label match {
          case Label.Title => sb.append("# ")
          case Label.SectionHeader => sb.append("## ")
          case Label.ListItem => sb.append("- ")
          case _ =>
        }
        appendEscaped(sb, item.text)
    }

  /** Appends `text` with each '_' escaped as `\_` (docling's
    * escape_underscores=True behavior). */
  private def appendEscaped(sb: java.lang.StringBuilder, text: String): Unit = {
    var last = 0
    var u = text.indexOf('_')
    while (u >= 0) {
      sb.append(text, last, u).append("\\_")
      last = u + 1
      u = text.indexOf('_', last)
    }
    sb.append(text, last, text.length)
  }

  /** Full document render with page-break markers between page transitions.
    * Consecutive plain-text children of the same picture are joined into ONE
    * space-separated block, mirroring docling-core's serializer (see
    * examples/long_report.md: chart-internal text items emit as one line);
    * non-text children (e.g. section_header chart titles) keep their own
    * blocks. */
  def render(doc: Doc, imageMode: String = ImageMode.Placeholder): String =
    renderItems(doc.items, onePage = false, 0, imageMode)

  /** [[render]] of the items on page `page` only when `onePage` holds, with
    * the others skipped as if absent. Blocks are written straight into one
    * builder presized from the items' text; a joined block's separator goes
    * in front of it when it is closed, since the page of its last item
    * decides it. */
  private def renderItems(items: Array[DocItem], onePage: Boolean, page: Int,
                          imageMode: String): String = {
    // room for the texts and their separators; a table grows the builder
    // to its exact size when it is written
    var size = 16
    var k = 0
    while (k < items.length) {
      val item = items(k)
      if (item.text != null && (!onePage || item.pageNo == page)) size += item.text.length + 4
      k += 1
    }
    val sb = new java.lang.StringBuilder(size)
    var lastPage = -1
    var first = true
    // what goes in front of the next block, which is on page pageNo
    def separator(pageNo: Int): String = {
      val sep =
        if (first) ""
        else if (pageNo != lastPage && lastPage != -1) PageBreakMarker
        else "\n\n"
      first = false
      lastPage = pageNo
      sep
    }
    var joinStart = -1 // where the open joined block starts in sb, or -1
    var joinParent = -1
    var joinPage = -1
    def flushJoin(): Unit = {
      if (joinStart >= 0) {
        sb.insert(joinStart, separator(joinPage))
        joinStart = -1
      }
      joinParent = -1
    }
    var picOrdinal = 0
    k = 0
    while (k < items.length) {
      val item = items(k)
      k += 1
      if (!onePage || item.pageNo == page) {
        val joinable = item.parentIdx >= 0 && item.kind == ItemKind.Text &&
          item.label == Label.Text
        if (!joinable || item.parentIdx != joinParent) flushJoin()
        if (renders(item)) {
          if (joinable) {
            if (joinStart >= 0) sb.append(' ') else joinStart = sb.length
            appendItem(sb, item, imageMode, picOrdinal)
            joinParent = item.parentIdx
            joinPage = item.pageNo
          } else {
            sb.append(separator(item.pageNo))
            appendItem(sb, item, imageMode, picOrdinal)
          }
          // ordinal counts EXPORTED pictures only, so referenced-mode links
          // stay dense (image_0, image_1, ...) and in sync with an artifact
          // exporter that writes one file per emitted picture block
          if (item.kind == ItemKind.Picture) picOrdinal += 1
        }
        // page transitions are tracked on exported items only, mirroring how
        // save_as_markdown only emits breaks between exported content
      }
    }
    flushJoin()
    sb.toString
  }

  /** Page-1 markdown of a parsed view, as the backend probe scores it
    * (the reference converts page_range=(1,1)): the first page's items
    * rendered with no filtered `Doc` copy. */
  private[extract] def renderFirstPage(doc: Doc): String =
    renderItems(doc.items, onePage = true, if (doc.pages.isEmpty) 1 else doc.pages(0).pageNo,
      ImageMode.Placeholder)

  /** Plain-text export used as the audit's PDF-side text
    * (doc.export_to_text analog): exported text content plus table cell
    * text, one block per line group. */
  def renderPlainText(doc: Doc): String = {
    val out = new java.lang.StringBuilder(plainTextSize(doc))
    forEachPlainLine(doc) { text =>
      if (out.length > 0) out.append('\n')
      out.append(text)
    }
    out.toString
  }

  /** `renderPlainText(doc).toLowerCase(Locale.ROOT)`, with each text
    * lower-cased on its own as it is copied in: the '\n' between two texts
    * is a word boundary, so no text's lower-casing depends on another's
    * (the root locale's one context rule is the final sigma). An ASCII
    * text is lower-cased in the buffer; only a text with another char goes
    * through `toLowerCase`. */
  private[extract] def lowerPlainText(doc: Doc): String = {
    var buf = new Array[Char](plainTextSize(doc))
    var n = 0
    def room(more: Int): Unit =
      if (n + more > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(2 * buf.length, n + more))
    forEachPlainLine(doc) { text =>
      room(text.length + 1)
      if (n > 0) { buf(n) = '\n'; n += 1 }
      text.getChars(0, text.length, buf, n)
      var ascii = true
      var i = n
      while (i < n + text.length) {
        val c = buf(i)
        if (c >= 0x80) ascii = false
        else if (c >= 'A' && c <= 'Z') buf(i) = (c + 32).toChar
        i += 1
      }
      if (ascii) n += text.length
      else {
        val lower = text.toLowerCase(java.util.Locale.ROOT)
        room(lower.length)
        lower.getChars(0, lower.length, buf, n)
        n += lower.length
      }
    }
    new String(buf, 0, n)
  }

  /** Room for every text and cell of `doc` and a separator after each. */
  private def plainTextSize(doc: Doc): Int = {
    var size = 16
    for (item <- doc.items) {
      if (item.text != null) size += item.text.length + 1
      if (item.table.nonEmpty) for (cell <- item.table.get.cells)
        if (cell.text != null) size += cell.text.length + 1
    }
    size
  }

  /** The non-empty texts of the plain-text export, in order: exported text
    * content, then key/value parts and table cells one per line. */
  private def forEachPlainLine(doc: Doc)(line: String => Unit): Unit =
    for (item <- doc.items) {
      if (exported(item)) {
        item.kind match {
          case ItemKind.Picture => ()
          case ItemKind.KeyValue =>
            // one key/value per line, like table cells: a space join would
            // let the space-grouped number pattern merge adjacent values
            item.kv.foreach(_.foreach { p =>
              if (p.key.nonEmpty) line(p.key)
              if (p.value.nonEmpty) line(p.value)
            })
          case ItemKind.Table =>
            // one cell per line, by row and then column: a space join would
            // let the space-grouped number pattern (audit_utils.py:14-16)
            // merge adjacent cells
            item.table.foreach { t =>
              val cells = if (rowMajor(t.cells)) t.cells else t.cells.sorted(RowMajor)
              for (cell <- cells)
                if (cell.startRow >= 0 && cell.startRow < t.numRows && cell.text != null &&
                    cell.text.nonEmpty) line(cell.text)
            }
          case _ => if (item.text != null && item.text.nonEmpty) line(item.text)
        }
      }
    }

  /** Cells by (startRow, startCol); a stable sort keeps equal ones in
    * their order. */
  private val RowMajor: Ordering[TableCell] = new Ordering[TableCell] {
    def compare(a: TableCell, b: TableCell): Int = {
      val c = Integer.compare(a.startRow, b.startRow)
      if (c != 0) c else Integer.compare(a.startCol, b.startCol)
    }
  }

  private def rowMajor(cells: Array[TableCell]): Boolean = {
    var k = 1
    while (k < cells.length) {
      if (RowMajor.compare(cells(k - 1), cells(k)) > 0) return false
      k += 1
    }
    true
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
