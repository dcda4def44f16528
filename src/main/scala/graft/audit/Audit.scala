package graft.audit

import graft.model._
import graft.textkit._
import graft.extract.MarkdownRender

/** Extraction-fidelity audit: doc-tree vs rendered markdown.
  * Semantics derived from
  * /root/reference/src/pdf_to_markdown_docling/audit_utils.py:230-379.
  * Exact set semantics (no sketches): recall metrics use distinct sets,
  * byte-exactness over approx_count_distinct (SURVEY.md §2.4).
  */
object Audit {

  /** audit_utils.py:241-260 — table-of-contents-like table detector. */
  def isTocLikeTable(t: TableData): Boolean = {
    if (t.numCols != 2 || t.numRows < 6) return false
    val texts = t.cells.map(_.text).filter(s => s != null && s.nonEmpty)
    if (texts.isEmpty) return false
    val digitCount = texts.map(_.count(Character.isDigit)).sum
    val alphaCount = texts.map(_.count(Character.isLetter)).sum
    val digitRatio = digitCount.toDouble / math.max(1, digitCount + alphaCount)
    if (digitRatio > 0.25) return false
    val numbers = Numbers.extractNumbers(texts.mkString(" "))
    if (numbers.isEmpty) return false
    val smallNumbers = numbers.count(num => Numbers.digitsOnly(num).length <= 3)
    if (smallNumbers.toDouble / numbers.size < 0.7) return false
    true
  }

  /** audit_utils.py:230-238 — (table count, cell count) excluding TOC tables. */
  def doclingTableStats(doc: Doc): (Int, Int) = {
    val tables = doc.items.flatMap(_.table).filterNot(isTocLikeTable)
    (tables.length, tables.map(t => t.numRows * t.numCols).sum)
  }

  /** audit_utils.py:272-333 */
  def auditDocVsMarkdown(doc: Doc, markdown: String): AuditMetrics = {
    val pdfText = MarkdownRender.renderPlainText(doc)
    val pdfTokens = Numbers.tokenize(pdfText)
    val mdTokens = Numbers.tokenize(markdown).toSet

    val numbersPdf = Numbers.extractNumbers(pdfText)
    val numbersMd = Numbers.extractNumbers(markdown)
    val datesPdf = Numbers.extractDates(pdfText)
    val datesMd = Numbers.extractDates(markdown)

    val (tableCountPdf, tableCellsPdf) = doclingTableStats(doc)
    val tableCountMd = MarkdownPost.markdownTableCount(markdown)
    val headingCountPdf = doc.items.count(i => Label.HeadingLabels.contains(i.label))
    val headingCountMd = MarkdownPost.markdownHeadingCount(markdown)

    val damage = AuditAggregator.damage(doc.items)

    AuditMetrics(
      url = doc.url,
      tokenCoverage = Numbers.coverage(pdfTokens, mdTokens),
      numericRecall = Numbers.coverage(numbersPdf.toSeq, numbersMd),
      dateRecall = Numbers.coverage(datesPdf.toSeq, datesMd),
      tableCountPdf = tableCountPdf, tableCountMd = tableCountMd,
      tableCellsPdf = tableCellsPdf,
      headingCountPdf = headingCountPdf, headingCountMd = headingCountMd,
      pdfTextLength = pdfText.length, mdTextLength = markdown.length,
      spacedTableCells = damage.spacedTableCells, totalTableCells = damage.totalTableCells,
      spacedTextItems = damage.spacedTextItems, multiSpaceTextItems = damage.multiSpaceTextItems,
      totalTextItems = damage.totalTextItems)
  }

  /** audit_utils.py:346-379 — per-page audits; markdown pages are positionally
    * zipped to the sorted page-number list. */
  def auditPerPage(doc: Doc, markdown: String): List[PageAudit] = {
    val pageNos = doc.pages.map(_.pageNo).sorted
    val mdPages = MarkdownPost.splitMarkdownPages(markdown)
    pageNos.zipWithIndex.map { case (pageNo, idx) =>
      val pageDoc = doc.copy(items = doc.items.filter(_.pageNo == pageNo))
      val pdfText = MarkdownRender.renderPlainText(pageDoc)
      val mdText = if (idx < mdPages.length) mdPages(idx) else ""
      PageAudit(
        url = doc.url, pageNo = pageNo,
        tokenCoverage = Numbers.coverage(Numbers.tokenize(pdfText), Numbers.tokenize(mdText).toSet),
        numericRecall = Numbers.coverage(Numbers.extractNumbers(pdfText).toSeq, Numbers.extractNumbers(mdText)),
        dateRecall = Numbers.coverage(Numbers.extractDates(pdfText).toSeq, Numbers.extractDates(mdText)),
        pdfTextLength = pdfText.length, mdTextLength = mdText.length)
    }.toList
  }
}
