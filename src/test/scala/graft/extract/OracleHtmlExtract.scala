package graft.extract

import graft.extract.HtmlExtract.{BlockMeta, HeadMeta, Parsed}
import graft.model._
import scala.collection.mutable

// Frozen copy of HtmlExtract's tokenizer (parseDetailed, headMeta and their
// helpers) as it stood before the token loop became an index scanner.
// HtmlExtractOracleSpec runs the engine against it on generated HTML; it is
// test code only and must not be changed to follow the engine.
object OracleHtmlExtract {

  private val FurnitureTags: Set[String] = Set("nav", "aside")
  // <title> holds chrome/site furniture, not content — skip like script/style
  private val RawTextTags: Set[String] = Set("script", "style", "title")

  private val Entities: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "ndash" -> "–", "mdash" -> "—",
    "hellip" -> "…", "copy" -> "©", "eacute" -> "é")

  /** Decode character references in a text run. */
  def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 10) {
          val body = s.substring(i + 1, semi)
          // invalid refs (&#-1;, &#x110000;, lone surrogates) keep raw text
          def appendCp(parse: => Int): Boolean =
            try {
              val cp = parse
              if (Character.isValidCodePoint(cp) && !(cp >= 0xD800 && cp <= 0xDFFF)) {
                sb.appendCodePoint(cp); true
              } else false
            } catch { case _: NumberFormatException => false }
          if (body.startsWith("#x") || body.startsWith("#X")) {
            if (appendCp(Integer.parseInt(body.substring(2), 16))) i = semi + 1
            else { sb.append(c); i += 1 }
          } else if (body.startsWith("#")) {
            if (appendCp(Integer.parseInt(body.substring(1)))) i = semi + 1
            else { sb.append(c); i += 1 }
          } else Entities.get(body) match {
            case Some(rep) => sb.append(rep); i = semi + 1
            case None => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Minimal attribute parser: name="value" | name='value' | name=value | name. */
  /** Head metadata a crawl pipeline acts on before (or instead of)
    * extracting the body: the canonical link target (feeds
    * [[graft.functions.UrlCanonical]] dedup), robots directives
    * (noindex pages are dropped from training corpora), and the declared
    * document language. One bounded scan that stops at `<body>`. */

  def headMeta(html: String): HeadMeta = {
    var canonical = ""
    var noindex = false
    var nofollow = false
    var lang = ""
    var i = 0
    val n = html.length
    var done = false
    while (!done && i < n) {
      val lt = html.indexOf('<', i)
      if (lt < 0) done = true
      else if (html.startsWith("<!--", lt)) {
        val e = html.indexOf("-->", lt + 4)
        i = if (e < 0) n else e + 3
      } else {
        val gt = html.indexOf('>', lt)
        if (gt < 0) done = true
        else {
          var p = lt + 1
          val closing = p < gt && html.charAt(p) == '/'
          if (closing) p += 1
          val ns = p
          while (p < gt && html.charAt(p).isLetterOrDigit) p += 1
          val name = html.substring(ns, p).toLowerCase
          var nextI = gt + 1
          if (!closing) name match {
            case "html" =>
              val attrs = parseAttrs(html, p, gt)
              if (lang.isEmpty) lang = attrs.getOrElse("lang", "")
            case "link" =>
              val attrs = parseAttrs(html, p, gt)
              if (attrs.get("rel").exists(_.equalsIgnoreCase("canonical")) &&
                  canonical.isEmpty)
                canonical = attrs.getOrElse("href", "")
            case "meta" =>
              val attrs = parseAttrs(html, p, gt)
              if (attrs.get("name").exists(_.equalsIgnoreCase("robots"))) {
                val c = attrs.getOrElse("content", "").toLowerCase
                if (c.contains("noindex")) noindex = true
                if (c.contains("nofollow")) nofollow = true
              }
            case "script" | "style" =>
              // raw-text content: a '<body' or '<link' inside a JS/CSS
              // string literal is data, not markup — skip to the close tag
              val close = html.indexOf("</" + name, gt + 1)
              nextI =
                if (close < 0) n
                else {
                  val e = html.indexOf('>', close)
                  if (e < 0) n else e + 1
                }
            case "body" => done = true // head-only scan
            case _ =>
          }
          i = nextI
        }
      }
    }
    HeadMeta(canonical, noindex, nofollow, lang)
  }

  private def parseAttrs(s: String, from: Int, to: Int): Map[String, String] = {
    var i = from
    var out: Map[String, String] = Map.empty
    while (i < to) {
      while (i < to && (s.charAt(i).isWhitespace || s.charAt(i) == '/')) i += 1
      val nameStart = i
      while (i < to && !s.charAt(i).isWhitespace && s.charAt(i) != '=' && s.charAt(i) != '/') i += 1
      if (i > nameStart) {
        val name = s.substring(nameStart, i).toLowerCase
        while (i < to && s.charAt(i).isWhitespace) i += 1
        if (i < to && s.charAt(i) == '=') {
          i += 1
          while (i < to && s.charAt(i).isWhitespace) i += 1
          if (i < to && (s.charAt(i) == '"' || s.charAt(i) == '\'')) {
            val q = s.charAt(i); i += 1
            val vStart = i
            while (i < to && s.charAt(i) != q) i += 1
            out = out.updated(name, decodeEntities(s.substring(vStart, i)))
            if (i < to) i += 1
          } else {
            val vStart = i
            while (i < to && !s.charAt(i).isWhitespace) i += 1
            out = out.updated(name, decodeEntities(s.substring(vStart, i)))
          }
        } else out = out.updated(name, "")
      } else i += 1
    }
    out
  }

  /** class-attribute token test without the per-call regex split: tokens
    * are runs between ASCII whitespace, matching `split("\\s+")`. */
  private def hasClassToken(cls: String, token: String): Boolean = {
    val n = cls.length
    var i = 0
    while (i < n) {
      while (i < n && isAsciiWs(cls.charAt(i))) i += 1
      val start = i
      while (i < n && !isAsciiWs(cls.charAt(i))) i += 1
      if (i - start == token.length && cls.regionMatches(start, token, 0, token.length))
        return true
    }
    false
  }
  private def isAsciiWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  private def parseBbox(attrs: Map[String, String]): Option[Bbox] =
    attrs.get("data-bbox").flatMap { v =>
      val parts = v.split(",")
      if (parts.length == 4) {
        try Some(Bbox(parts(0).toDouble, parts(1).toDouble, parts(2).toDouble,
          parts(3).toDouble, attrs.getOrElse("data-origin", Bbox.TopLeft)))
        catch { case _: NumberFormatException => None }
      } else None
    }

  // ---- block accumulation ------------------------------------------------

  private final class BlockBuf {
    val text = new java.lang.StringBuilder
    var anchorChars = 0
    var label: String = Label.Text
    var furniture = false
    var bbox: Option[Bbox] = None
    def isEmpty: Boolean = text.length == 0 || text.toString.trim.isEmpty
  }

  private final class CellBuf(val row: Int, val col: Int, val rowSpan: Int, val colSpan: Int,
                              val header: Boolean, val bbox: Option[Bbox]) {
    val text = new java.lang.StringBuilder
  }

  private final class TableBuf(val bbox: Option[Bbox]) {
    val cells = mutable.ArrayBuffer.empty[CellBuf]
    var row = -1
    var col = 0
    // occupancy of forward rows from rowspans: (row, col) taken
    val taken = mutable.Set.empty[(Int, Int)]
    var current: CellBuf = null
  }

  /** Whitespace-normalize a text run HTML-style (collapse runs to one space). */
  private def collapseWs(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var lastSpace = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c.isWhitespace) {
        if (!lastSpace && sb.length > 0) sb.append(' ')
        lastSpace = true
      } else { sb.append(c); lastSpace = false }
      i += 1
    }
    sb.toString.trim
  }

  /** Config-independent parse: text blocks keep their pre-boiler label; the
    * boilerplate inputs ride in the meta array (see [[applyConfig]]). */
  def parseDetailed(url: String, html: String): Parsed = {
    val items = mutable.ArrayBuffer.empty[DocItem]
    val metas = mutable.ArrayBuffer.empty[BlockMeta]
    var pageNo = 1
    var sawPageDiv = false
    var pageHeight = 0.0
    val pages = mutable.ArrayBuffer.empty[PageDim]
    var pageRecorded = false

    def recordPage(): Unit = {
      if (!pageRecorded) { pages += PageDim(pageNo, 0.0, pageHeight); pageRecorded = true }
    }

    var idx = 0
    def nextIdx(): Int = { val v = idx; idx += 1; v }

    // tag-context state
    var anchorDepth = 0
    var furnitureDepth = 0
    var headerFooterDepth = 0
    var headingLevel = 0
    var listDepth = 0
    var figureDepth = 0
    var figcaptionDepth = 0
    var block: BlockBuf = null
    // stack: real crawl HTML nests tables; inner tables emit as their own
    // items while the outer table keeps collecting
    val tableStack = mutable.ArrayBuffer.empty[TableBuf]
    def table: TableBuf = if (tableStack.isEmpty) null else tableStack.last
    var cellBbox: Option[Bbox] = None

    def startBlock(): Unit = if (block == null) block = new BlockBuf

    def flushBlock(): Unit = {
      if (block != null && !block.isEmpty) {
        val raw = collapseWs(decodeEntities(block.text.toString)).replace('\u00A0', ' ')
        if (raw.nonEmpty) {
          val chars = raw.length
          val linkDensity = if (chars == 0) 0.0 else math.min(1.0, block.anchorChars.toDouble / chars)
          recordPage()
          // Boilerpipe-class thresholding happens in applyConfig; the raw
          // item keeps its pre-boiler label and Body layer
          items += DocItem(nextIdx(), ItemKind.Text, block.label, ContentLayer.Body,
            pageNo, block.bbox, raw, None)
          // word count without the split allocation: raw is collapseWs'd
          // (single spaces), so words = runs of non-space chars
          var words = 0
          var inWord = false
          var wi = 0
          while (wi < raw.length) {
            if (raw.charAt(wi) == ' ') inWord = false
            else if (!inWord) { words += 1; inWord = true }
            wi += 1
          }
          metas += BlockMeta(linkDensity, chars, structural = block.furniture,
            words = words)
        }
      }
      block = null
    }

    def finishTable(): Unit = {
      if (table != null) {
        val t = tableStack.remove(tableStack.length - 1)
        finishTableBuf(t)
      }
    }

    def finishTableBuf(table: TableBuf): Unit = {
      {
        // compute dimensions from occupancy
        var numRows = 0
        var numCols = 0
        val cells = table.cells.map { cb =>
          val endRow = cb.row + cb.rowSpan
          val endCol = cb.col + cb.colSpan
          if (endRow > numRows) numRows = endRow
          if (endCol > numCols) numCols = endCol
          TableCell(cb.row, endRow, cb.col, endCol, cb.rowSpan, cb.colSpan,
            collapseWs(decodeEntities(cb.text.toString)).replace('\u00A0', ' '),
            columnHeader = cb.header, rowHeader = false, rowSection = false,
            fillable = false, bbox = cb.bbox)
        }.toArray
        recordPage()
        items += DocItem(nextIdx(), ItemKind.Table, Label.Table, ContentLayer.Body,
          pageNo, table.bbox, "", Some(TableData(numRows, numCols, cells)))
        metas += null
      }
    }

    val s = html
    val n = s.length
    var i = 0
    var rawTextUntil: String = null

    while (i < n) {
      if (rawTextUntil != null) {
        // skip raw text content of script/style
        val close = s.indexOf("</" + rawTextUntil, i)
        i = if (close < 0) n else close
        if (close >= 0) {
          val end = s.indexOf('>', close)
          i = if (end < 0) n else end + 1
        }
        rawTextUntil = null
      } else {
        val lt = s.indexOf('<', i)
        if (lt < 0) {
          emitText(s.substring(i)); i = n
        } else {
          if (lt > i) emitText(s.substring(i, lt))
          if (lt + 1 < n && s.charAt(lt + 1) == '!') {
            // comment or doctype
            if (s.startsWith("<!--", lt)) {
              val end = s.indexOf("-->", lt + 4)
              i = if (end < 0) n else end + 3
            } else {
              val end = s.indexOf('>', lt)
              i = if (end < 0) n else end + 1
            }
          } else {
            val gt = s.indexOf('>', lt)
            if (gt < 0) { i = n }
            else {
              handleTag(s, lt, gt)
              i = gt + 1
            }
          }
        }
      }
    }

    def emitText(raw: String): Unit = {
      if (raw.isEmpty) return
      if (table != null) {
        if (table.current != null) table.current.text.append(raw)
      } else {
        if (raw.exists(c => !c.isWhitespace)) {
          startBlock()
          block.text.append(raw)
          if (anchorDepth > 0) block.anchorChars += collapseWs(decodeEntities(raw)).length
          if (furnitureDepth > 0 || headerFooterDepth > 0) block.furniture = true
          if (headingLevel == 1) block.label = Label.Title
          else if (headingLevel >= 2) block.label = Label.SectionHeader
          else if (figcaptionDepth > 0) block.label = Label.Caption
          else if (listDepth > 0) block.label = Label.ListItem
          if (block.bbox.isEmpty && cellBbox.nonEmpty) block.bbox = cellBbox
        } else if (block != null) block.text.append(' ')
      }
    }

    def handleTag(src: String, lt: Int, gt: Int): Unit = {
      var p = lt + 1
      val closing = p < gt && src.charAt(p) == '/'
      if (closing) p += 1
      val nameStart = p
      while (p < gt && !src.charAt(p).isWhitespace && src.charAt(p) != '/') p += 1
      val name = src.substring(nameStart, p).toLowerCase
      if (name.isEmpty) return
      // lazy: inline tags (the common case) never pay attribute parsing
      lazy val attrs: Map[String, String] =
        if (!closing && p < gt) parseAttrs(src, p, gt) else Map.empty[String, String]

      if (!closing && RawTextTags.contains(name)) { rawTextUntil = name; return }

      name match {
        case "a" =>
          if (closing) anchorDepth = math.max(0, anchorDepth - 1) else anchorDepth += 1
        case t if FurnitureTags.contains(t) =>
          if (closing) furnitureDepth = math.max(0, furnitureDepth - 1)
          else furnitureDepth += 1
          flushBlock()
        case "header" | "footer" =>
          if (closing) headerFooterDepth = math.max(0, headerFooterDepth - 1)
          else headerFooterDepth += 1
          flushBlock()
        case "h1" | "h2" | "h3" | "h4" | "h5" | "h6" =>
          flushBlock()
          if (closing) headingLevel = 0
          else { headingLevel = name.charAt(1) - '0'; startBlock(); block.bbox = parseBbox(attrs) }
        case "li" =>
          flushBlock()
          if (!closing) { startBlock(); block.bbox = parseBbox(attrs) }
        case "ul" | "ol" =>
          flushBlock()
          if (closing) listDepth = math.max(0, listDepth - 1) else listDepth += 1
        case "figure" =>
          flushBlock()
          if (closing) figureDepth = math.max(0, figureDepth - 1) else figureDepth += 1
        case "figcaption" =>
          flushBlock()
          if (closing) figcaptionDepth = math.max(0, figcaptionDepth - 1) else figcaptionDepth += 1
        case "img" =>
          flushBlock()
          recordPage()
          // picture-region text (the KPI-OCR analog) rides in an attribute;
          // it is NOT body text — only the caption pass reads it
          items += DocItem(nextIdx(), ItemKind.Picture, Label.Picture, ContentLayer.Body,
            pageNo, parseBbox(attrs), attrs.getOrElse("data-picture-text", ""), None)
          metas += null
        case "table" =>
          if (closing) finishTable()
          else { flushBlock(); tableStack += new TableBuf(parseBbox(attrs)) }
        case "tr" =>
          if (table != null && !closing) { table.row += 1; table.col = 0; table.current = null }
        case "td" | "th" =>
          if (table != null) {
            if (closing) table.current = null
            else {
              // advance past occupied columns (rowspan fill)
              while (table.taken.contains((table.row, table.col))) table.col += 1
              val rowSpan = attrs.get("rowspan").flatMap(v => v.toIntOption).getOrElse(1).max(1)
              val colSpan = attrs.get("colspan").flatMap(v => v.toIntOption).getOrElse(1).max(1)
              val cb = new CellBuf(table.row, table.col, rowSpan, colSpan,
                header = name == "th" || table.row == 0, bbox = parseBbox(attrs))
              for (r <- table.row until (table.row + rowSpan); c <- table.col until (table.col + colSpan))
                if (r != table.row || c >= table.col) table.taken += ((r, c))
              table.col += colSpan
              table.cells += cb
              table.current = cb
            }
          }
        case "div" =>
          flushBlock()
          if (!closing && attrs.get("class").exists(hasClassToken(_, "page"))) {
            if (sawPageDiv) { pageNo += 1; pageRecorded = false }
            sawPageDiv = true
            pageHeight = attrs.get("data-page-height").flatMap(_.toDoubleOption).getOrElse(0.0)
            // pre-page furniture (site header/nav) may have recorded this page
            // with an unknown height; the page wrapper is authoritative
            if (pageRecorded && pages.nonEmpty && pages.last.pageNo == pageNo)
              pages(pages.length - 1) = PageDim(pageNo, 0.0, pageHeight)
            else recordPage()
          } else if (!closing) {
            cellBbox = parseBbox(attrs) match {
              case some @ Some(_) => some
              case None => None
            }
          } else cellBbox = None
        case "p" | "blockquote" | "pre" | "section" | "article" | "main" =>
          flushBlock()
          if (!closing) { startBlock(); block.bbox = parseBbox(attrs) }
        case "br" | "hr" =>
          flushBlock()
        case _ => // inline tag: ignore
      }
    }

    flushBlock()
    while (table != null) finishTable() // unterminated tables at EOF
    recordPage()
    Parsed(Doc(url, items.toArray, pages.toArray), metas.toArray)
  }
}
