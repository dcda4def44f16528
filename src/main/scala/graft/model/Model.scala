package graft.model

/** Engine-internal document model, mirroring the DoclingDocument 1.8.0 item
  * tree the reference walks (see the reference's
  * examples/long_report.docling.json and SURVEY.md §1). Reading order is an
  * explicit `idx` column so it survives shuffles; all types are
  * Spark-Encoder-friendly case classes.
  */
case class Bbox(l: Double, t: Double, r: Double, b: Double, origin: String) {
  def area: Double = math.max(0.0, r - l) * math.max(0.0, b - t)
  /** docling BoundingBox.to_top_left_origin */
  def toTopLeft(pageHeight: Double): Bbox =
    if (origin == Bbox.TopLeft) this
    else Bbox(l, pageHeight - t, r, pageHeight - b, Bbox.TopLeft)
}
object Bbox {
  val TopLeft = "TOPLEFT"
  val BottomLeft = "BOTTOMLEFT"
}

/** One table cell (table_fixes.py key fields). */
case class TableCell(
    startRow: Int, endRow: Int, startCol: Int, endCol: Int,
    rowSpan: Int, colSpan: Int,
    text: String,
    columnHeader: Boolean, rowHeader: Boolean, rowSection: Boolean, fillable: Boolean,
    bbox: Option[Bbox])

case class TableData(numRows: Int, numCols: Int, cells: Array[TableCell])

/** One key/value pair of a key-value region (docling key_value_items
  * analog: GraphData cells linked key -> value). */
case class KvPair(key: String, value: String)

/** Item kinds. */
object ItemKind {
  val Text = "text"
  val Table = "table"
  val Picture = "picture"
  /** Label/value band (docling's key_value_items): a layout an ML model
    * would call a table but whose structure is a list of (label, values)
    * pairs — the direct PDF path emits these first-class instead of
    * forcing table structure. */
  val KeyValue = "key_value"
}

/** Docling labels actually consumed by the reference
  * (conversion_utils.py:169-177, audit_utils.py:263-269). */
object Label {
  val Title = "title"
  val SectionHeader = "section_header"
  val Text = "text"
  val Caption = "caption"
  val Footnote = "footnote"
  val PageHeader = "page_header"
  val PageFooter = "page_footer"
  val DocumentIndex = "document_index"
  val ListItem = "list_item"
  val Table = "table"
  val Picture = "picture"
  /** docling DocItemLabel.KEY_VALUE_REGION — only the direct PDF path
    * produces it (the reference's docling inputs never carry one, so the
    * reference export-set semantics are unchanged on that path). */
  val KeyValueRegion = "key_value_region"

  /** Export label set (conversion_utils.py:169-177): default set minus
    * document_index/page_header/page_footer, plus caption/footnote.
    * KeyValueRegion is an extension for direct-path key-value bands —
    * absent from every docling-ingested document. */
  val ExportLabels: Set[String] = Set(
    Title, SectionHeader, Text, Caption, Footnote, ListItem, Table, Picture,
    KeyValueRegion)
  val HeadingLabels: Set[String] = Set(Title, SectionHeader)
}

object ContentLayer {
  val Body = "body"
  val Furniture = "furniture"
}

case class DocItem(
    idx: Int,
    kind: String,
    label: String,
    contentLayer: String,
    pageNo: Int,
    bbox: Option[Bbox],
    text: String,
    table: Option[TableData],
    /** idx of the enclosing picture for chart-internal text items (-1 = top
      * level). Docling's markdown serializer joins a picture's surviving
      * text children into ONE space-joined paragraph — parity with
      * examples/long_report.md requires knowing the parent. */
    parentIdx: Int = -1,
    /** pairs for kind == key_value items (None otherwise). Kept separate
      * from `table` so the table-fix battery and table audits never touch
      * key-value regions — they live in a different docling collection. */
    kv: Option[Array[KvPair]] = None)

case class PageDim(pageNo: Int, width: Double, height: Double)

/** One document: the unit of processing. `url` is the primary key. */
case class Doc(url: String, items: Array[DocItem], pages: Array[PageDim]) {
  def pageHeights: Map[Int, Double] = pages.map(p => p.pageNo -> p.height).toMap
}

/** Per-document audit metrics (audit_utils.py:20-36). */
case class AuditMetrics(
    url: String,
    tokenCoverage: Double,
    numericRecall: Double,
    dateRecall: Double,
    tableCountPdf: Long,
    tableCountMd: Long,
    tableCellsPdf: Long,
    headingCountPdf: Long,
    headingCountMd: Long,
    pdfTextLength: Long,
    mdTextLength: Long,
    spacedTableCells: Long,
    totalTableCells: Long,
    spacedTextItems: Long,
    multiSpaceTextItems: Long,
    totalTextItems: Long)

/** Per-(document, page) audit (audit_utils.py:39-46). */
case class PageAudit(
    url: String,
    pageNo: Int,
    tokenCoverage: Double,
    numericRecall: Double,
    dateRecall: Double,
    pdfTextLength: Long,
    mdTextLength: Long)

/** Input row shape per BASELINE.json input_hint. */
case class PageRow(url: String, warc_ts: java.sql.Timestamp, html: Array[Byte],
                   text: String, lang: String)
