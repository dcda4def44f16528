package graft.extract

import graft.model._
import scala.annotation.switch
import scala.collection.mutable

/** Streaming HTML -> DocItem extraction: single-pass tag tokenizer feeding a
  * block accumulator with text-density + link-density boilerplate scoring
  * (Boilerpipe/Readability-class heuristics over the block sequence).
  *
  * Built from scratch for the Common-Crawl-style `pages.html` payload
  * (BASELINE.json input_hint); the item-tree output mirrors the reference's
  * DoclingDocument walk (SURVEY.md §1.4). Runs batched inside mapPartitions.
  * The token loop is an index scanner over the source `String`: tag and
  * attribute names are matched in place, text runs are copied by range into
  * one reusable char buffer for the open block and one per open table, and
  * whitespace collapses in that buffer when the block or cell closes. No
  * regexes, closures or per-tag substrings; a document allocates its items,
  * one `String` per emitted text and the attribute values it reads.
  *
  * Supported conventions:
  *   - block elements end the current text block; h1 -> title, h2..h6 ->
  *     section_header, li -> list_item, p/div/others -> text
  *   - `<table>` with tr/th/td (+ rowspan/colspan) -> TableData via an HTML
  *     grid-occupancy fill; a rowspan is clipped at the table's last `<tr>`
  *     and a colspan at 1000, as browsers clip them
  *   - `<img>`/`<figure>` -> picture items; `<figcaption>` -> caption
  *   - `<div class="page">` wrappers advance pageNo; `data-bbox="l,t,r,b"`
  *     and `data-page-height` attach geometry so spatial ops run on HTML too
  *   - nav/header/footer/aside subtrees are furniture (page_header/footer
  *     labels) and get dropped by the export-label filter downstream
  *   - link density > 0.4 on a short block marks it boilerplate (furniture)
  */
object HtmlExtract {

  /** Per-text-block boilerplate inputs captured at parse time. The parse
    * configs (standard/aggressive/ocr) differ ONLY in how they threshold
    * these, so one parse serves every config via [[applyConfig]] — the
    * conversion flow's probe and OCR retry cost zero extra parses. */
  final case class BlockMeta(linkDensity: Double, chars: Int, structural: Boolean,
                             words: Int = 0)

  /** One parse, config-independent: items carry their pre-boiler label and
    * Body layer; `meta(i)` is null for non-text items (tables, pictures). */
  final case class Parsed(doc: Doc, meta: Array[BlockMeta])

  /** Re-derive a config's view: the boilerplate decision per text block
    * (identical rule to the inline one the parser used to apply). */
  def applyConfig(parsed: Parsed, linkDensityThreshold: Double,
                  minContentChars: Int): Doc = {
    val items = new Array[DocItem](parsed.doc.items.length)
    var i = 0
    while (i < items.length) {
      val item = parsed.doc.items(i)
      val m = parsed.meta(i)
      items(i) =
        if (m == null) item
        else {
          val boiler = m.structural ||
            (m.linkDensity > linkDensityThreshold && m.chars < 200) ||
            (m.chars < minContentChars && item.label == Label.Text && m.linkDensity > 0)
          if (!boiler) item
          else item.copy(
            label = if (item.label == Label.Text) Label.PageHeader else item.label,
            contentLayer = ContentLayer.Furniture)
        }
      i += 1
    }
    parsed.doc.copy(items = items)
  }

  /** One parse config: the boilerplate thresholds [[applyConfig]] applies. */
  final case class ParseConfig(name: String, linkDensityThreshold: Double, minContentChars: Int)

  /** The three configs, defined here and nowhere else. Standard and
    * aggressive are the two backends the auto-probe scores
    * (conversion_utils.py:180-228); ocr keeps every block, the analog of the
    * forced full-page OCR re-read that recovers text the first pass dropped
    * (conversion_utils.py:357-398). */
  object ParseConfig {
    val Standard = ParseConfig("standard", 0.4, 8)
    val Aggressive = ParseConfig("aggressive", 0.25, 16)
    val Ocr = ParseConfig("ocr", 2.0, 0)
  }

  /** The published Boilerpipe NumWordsRulesClassifier (Kohlschütter et al.,
    * WSDM 2011 — "Boilerplate Detection using Shallow Text Features",
    * decision tree trained on word count + link density of the previous/
    * current/next block). This is the neighbor-aware alternative to
    * [[applyConfig]]'s per-block thresholds: a short block is rescued by a
    * long neighbor (caption under an article paragraph) and a teaser
    * stranded between link lists is dropped even though it has no links
    * itself. Heading-labeled blocks are exempt (classified structurally) —
    * a deliberate deviation: our downstream keeps section structure that
    * the original flat text extractor discarded. */
  def applyBoilerpipe(parsed: Parsed): Doc = {
    val metas = parsed.meta
    val items = parsed.doc.items
    // the classifier runs over the sequence of TEXT blocks (meta != null),
    // mirroring Boilerpipe's TextDocument block list
    val textIdx = items.indices.filter(i => metas(i) != null).toArray
    def wordsAt(k: Int): Int =
      if (k < 0 || k >= textIdx.length) 0 else metas(textIdx(k)).words
    def ldAt(k: Int): Double =
      if (k < 0 || k >= textIdx.length) 0.0 else metas(textIdx(k)).linkDensity
    val out = items.clone()
    for (k <- textIdx.indices) {
      val i = textIdx(k)
      val item = items(i)
      val m = metas(i)
      val isContent =
        if (m.structural) false
        else if (Label.HeadingLabels.contains(item.label)) true // exempt
        else if (ldAt(k) > 0.333333) false
        else if (ldAt(k - 1) <= 0.555556) {
          if (wordsAt(k) <= 16) {
            if (wordsAt(k + 1) <= 15) wordsAt(k - 1) > 4
            else true
          } else true
        } else {
          if (wordsAt(k) <= 40) wordsAt(k + 1) > 17
          else true
        }
      if (!isContent)
        out(i) = item.copy(
          label = if (item.label == Label.Text) Label.PageHeader else item.label,
          contentLayer = ContentLayer.Furniture)
    }
    parsed.doc.copy(items = out)
  }

  /** A fixed set of lower-case ASCII names, looked up by a range of a source
    * string exactly as `s.substring(from, to).toLowerCase` would equal one of
    * them: an ASCII range is case-folded and hashed in place (one probe of
    * an open-addressed table, then one compare), any other range is copied
    * and lower-cased. */
  private final class Names(names: String*) {
    private val all = names.toArray
    private val mask = Integer.highestOneBit(4 * all.length) * 2 - 1
    private val slots: Array[Int] = {
      val t = Array.fill(mask + 1)(-1)
      for (k <- all.indices) {
        var pos = slot(all(k).hashCode)
        while (t(pos) >= 0) pos = (pos + 1) & mask
        t(pos) = k
      }
      t
    }
    private def slot(h: Int): Int = (h ^ (h >>> 16)) & mask
    def apply(k: Int): String = all(k)
    def size: Int = all.length

    /** Index of the name that s[from, to) lower-cases to, or -1. */
    def indexOf(s: String, from: Int, to: Int): Int = {
      var h = 0
      var i = from
      while (i < to) {
        val c = s.charAt(i)
        if (c >= 0x80) return all.indexOf(s.substring(from, to).toLowerCase)
        h = 31 * h + (if (c >= 'A' && c <= 'Z') c + 32 else c)
        i += 1
      }
      var pos = slot(h)
      while (slots(pos) >= 0) {
        val name = all(slots(pos))
        if (name.length == to - from && name.regionMatches(true, 0, s, from, to - from))
          return slots(pos)
        pos = (pos + 1) & mask
      }
      -1
    }
  }

  // tag kinds: what handleTag does with a tag; names outside Tags are inline
  private final val Anchor = 0
  private final val Furniture = 1
  private final val HeaderFooter = 2
  private final val Heading = 3
  private final val ListItemTag = 4
  private final val ListTag = 5
  private final val Figure = 6
  private final val Figcaption = 7
  private final val Img = 8
  private final val TableTag = 9
  private final val Row = 10
  private final val CellTag = 11
  private final val Div = 12
  private final val BlockTag = 13
  private final val Break = 14
  // <title> holds chrome/site furniture, not content — skip like script/style
  private final val RawText = 15

  private val TagTable: Seq[(String, Int)] = Seq(
    "a" -> Anchor, "nav" -> Furniture, "aside" -> Furniture,
    "header" -> HeaderFooter, "footer" -> HeaderFooter,
    "h1" -> Heading, "h2" -> Heading, "h3" -> Heading, "h4" -> Heading, "h5" -> Heading,
    "h6" -> Heading, "li" -> ListItemTag, "ul" -> ListTag, "ol" -> ListTag,
    "figure" -> Figure, "figcaption" -> Figcaption, "img" -> Img,
    "table" -> TableTag, "tr" -> Row, "td" -> CellTag, "th" -> CellTag, "div" -> Div,
    "p" -> BlockTag, "blockquote" -> BlockTag, "pre" -> BlockTag, "section" -> BlockTag,
    "article" -> BlockTag, "main" -> BlockTag, "br" -> Break, "hr" -> Break,
    "script" -> RawText, "style" -> RawText, "title" -> RawText)
  private val Tags = new Names(TagTable.map(_._1): _*)
  private val TagKinds = TagTable.map(_._2).toArray
  /** What ends a raw-text element's content, by tag index. */
  private val RawTextEnds = Array.tabulate(Tags.size)(k => "</" + Tags(k))

  // the attributes the body scan reads (index into BodyAttrs)
  private final val DataBbox = 0
  private final val DataOrigin = 1
  private final val PictureText = 2
  private final val RowSpanAttr = 3
  private final val ColSpanAttr = 4
  private final val ClassAttr = 5
  private final val PageHeight = 6
  private val BodyAttrs = new Names("data-bbox", "data-origin", "data-picture-text",
    "rowspan", "colspan", "class", "data-page-height")

  // the attributes headMeta reads (index into HeadAttrs)
  private final val LangAttr = 0
  private final val RelAttr = 1
  private final val HrefAttr = 2
  private final val NameAttr = 3
  private final val ContentAttr = 4
  private val HeadAttrs = new Names("lang", "rel", "href", "name", "content")

  /** The HTML spec's limit on `colspan`. */
  private final val MaxColSpan = 1000

  private val Entities: java.util.HashMap[String, String] = {
    val m = new java.util.HashMap[String, String]
    for ((k, v) <- Seq(
        "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
        "nbsp" -> "\u00A0", "ndash" -> "–", "mdash" -> "—",
        "hellip" -> "…", "copy" -> "©", "eacute" -> "é"))
      m.put(k, v)
    m
  }

  /** Decode character references in a text run. A reference is `&` and a
    * body of at most 9 chars up to the first `;`; an unknown name or an
    * invalid code point (&#-1;, &#x110000;, a lone surrogate) keeps the `&`
    * as raw text. */
  def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    val n = s.length
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      var decoded = false
      if (c == '&') {
        var semi = i + 1
        val last = math.min(i + 10, n - 1)
        while (semi <= last && s.charAt(semi) != ';') semi += 1
        if (semi <= last) {
          val body = s.substring(i + 1, semi)
          decoded =
            if (body.startsWith("#x") || body.startsWith("#X")) appendCodePoint(sb, body, 2, 16)
            else if (body.startsWith("#")) appendCodePoint(sb, body, 1, 10)
            else {
              val rep = Entities.get(body)
              if (rep != null) sb.append(rep)
              rep != null
            }
          if (decoded) i = semi + 1
        }
      }
      if (!decoded) { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def appendCodePoint(sb: java.lang.StringBuilder, body: String, from: Int,
                              radix: Int): Boolean =
    try {
      val cp = Integer.parseInt(body.substring(from), radix)
      val valid = Character.isValidCodePoint(cp) && !(cp >= 0xD800 && cp <= 0xDFFF)
      if (valid) sb.appendCodePoint(cp)
      valid
    } catch { case _: NumberFormatException => false }

  /** Head metadata a crawl pipeline acts on before (or instead of)
    * extracting the body: the canonical link target (feeds
    * [[graft.functions.UrlCanonical]] dedup), robots directives
    * (noindex pages are dropped from training corpora), and the declared
    * document language. One bounded scan that stops at `<body>`. */
  final case class HeadMeta(canonical: String, robotsNoindex: Boolean,
                            robotsNofollow: Boolean, htmlLang: String)

  def headMeta(html: String): HeadMeta = {
    var canonical = ""
    var noindex = false
    var nofollow = false
    var lang = ""
    val spans = new Array[Int](2 * HeadAttrs.size)
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
              parseAttrs(html, p, gt, HeadAttrs, spans)
              if (lang.isEmpty) lang = attrOrEmpty(html, spans, LangAttr)
            case "link" =>
              parseAttrs(html, p, gt, HeadAttrs, spans)
              if (attrOrEmpty(html, spans, RelAttr).equalsIgnoreCase("canonical") &&
                  canonical.isEmpty)
                canonical = attrOrEmpty(html, spans, HrefAttr)
            case "meta" =>
              parseAttrs(html, p, gt, HeadAttrs, spans)
              if (attrOrEmpty(html, spans, NameAttr).equalsIgnoreCase("robots")) {
                val c = attrOrEmpty(html, spans, ContentAttr).toLowerCase
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

  /** Minimal attribute parser: name="value" | name='value' | name=value | name.
    * Scans s[from, to) once and records, for each of `names`, the value span
    * of its last occurrence: `spans(2k)` until `spans(2k + 1)`, or -1 when
    * absent. A name without a value gets an empty span. Names match
    * case-insensitively; values stay raw until [[attrValue]] reads them. */
  private def parseAttrs(s: String, from: Int, to: Int, names: Names,
                         spans: Array[Int]): Unit = {
    java.util.Arrays.fill(spans, -1)
    var i = from
    while (i < to) {
      while (i < to && (isWs(s.charAt(i)) || s.charAt(i) == '/')) i += 1
      val nameStart = i
      while (i < to && !isWs(s.charAt(i)) && s.charAt(i) != '=' && s.charAt(i) != '/') i += 1
      if (i > nameStart) {
        val k = names.indexOf(s, nameStart, i)
        while (i < to && isWs(s.charAt(i))) i += 1
        var vStart = i
        var vEnd = i
        if (i < to && s.charAt(i) == '=') {
          i += 1
          while (i < to && isWs(s.charAt(i))) i += 1
          if (i < to && (s.charAt(i) == '"' || s.charAt(i) == '\'')) {
            val q = s.charAt(i); i += 1
            vStart = i
            while (i < to && s.charAt(i) != q) i += 1
            vEnd = i
            if (i < to) i += 1
          } else {
            vStart = i
            while (i < to && !isWs(s.charAt(i))) i += 1
            vEnd = i
          }
        }
        if (k >= 0) { spans(2 * k) = vStart; spans(2 * k + 1) = vEnd }
      } else i += 1
    }
  }

  /** Attribute `k`'s value with entities decoded, or null when absent. */
  private def attrValue(s: String, spans: Array[Int], k: Int): String =
    if (spans(2 * k) < 0) null else decodeEntities(s.substring(spans(2 * k), spans(2 * k + 1)))

  private def attrOrEmpty(s: String, spans: Array[Int], k: Int): String = {
    val v = attrValue(s, spans, k)
    if (v == null) "" else v
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

  /** `data-bbox="l,t,r,b"`: four numbers once trailing empty fields are
    * dropped (the rule of `split(",")`), else null. */
  private def parseBbox(v: String, origin: String): Bbox = {
    var end = v.length
    while (end > 0 && v.charAt(end - 1) == ',') end -= 1
    val c1 = v.indexOf(',')
    val c2 = if (c1 < 0) -1 else v.indexOf(',', c1 + 1)
    val c3 = if (c2 < 0) -1 else v.indexOf(',', c2 + 1)
    val c4 = if (c3 < 0) -1 else v.indexOf(',', c3 + 1)
    if (c3 < 0 || c3 >= end || (c4 >= 0 && c4 < end)) null
    else
      try Bbox(v.substring(0, c1).toDouble, v.substring(c1 + 1, c2).toDouble,
        v.substring(c2 + 1, c3).toDouble, v.substring(c3 + 1, end).toDouble,
        if (origin == null) Bbox.TopLeft else origin)
      catch { case _: NumberFormatException => null }
  }

  /** `Character.isWhitespace`, answered inline for ASCII. */
  private def isWs(c: Char): Boolean =
    if (c < 0x80) c == ' ' || (c >= '\t' && c <= '\r') || (c >= '\u001C' && c <= '\u001F')
    else Character.isWhitespace(c)

  /** A char `String.trim` keeps (> ' ') that `Character.isWhitespace` does
    * not collapse: the ends of a collapsed text run. */
  private def isVisible(c: Char): Boolean = c > ' ' && !isWs(c)

  /** The text of a block or cell as the engine shows it, from its raw chars
    * `a[0, n)` (overwritten): runs of `Character.isWhitespace` chars
    * collapse to one space, the ends are trimmed by `String.trim`'s rule,
    * and U+00A0 becomes a space. Entities must already be decoded. */
  private def collapsed(a: Array[Char], n: Int): String = {
    var lo = 0
    while (lo < n && !isVisible(a(lo))) lo += 1
    if (lo == n) return ""
    var hi = n
    while (!isVisible(a(hi - 1))) hi -= 1
    var w = lo
    var i = lo
    while (i < hi) {
      val c = a(i)
      i += 1
      if (isWs(c)) {
        a(w) = ' '
        while (isWs(a(i))) i += 1 // a(hi - 1) is visible
      } else a(w) = if (c == '\u00A0') ' ' else c
      w += 1
    }
    new String(a, lo, w - lo)
  }

  /** The length [[collapsed]] would give s[from, to). */
  private def collapsedLength(s: String, from: Int, to: Int): Int = {
    var lo = from
    while (lo < to && !isVisible(s.charAt(lo))) lo += 1
    if (lo == to) return 0
    var hi = to
    while (!isVisible(s.charAt(hi - 1))) hi -= 1
    var len = 0
    var i = lo
    while (i < hi) {
      if (isWs(s.charAt(i))) {
        i += 1
        while (isWs(s.charAt(i))) i += 1
      } else i += 1
      len += 1
    }
    len
  }

  // ---- block accumulation ------------------------------------------------

  /** The raw chars of an open block or cell, copied by range from the
    * source and reused once that text is taken. */
  private final class TextBuf {
    private var chars = new Array[Char](256)
    private var length = 0
    /** Holds a `&`: entities decode over the whole text before it
      * collapses (a reference may span two runs). */
    var amp = false

    def add(s: String, from: Int, to: Int): Unit = {
      reserve(to - from)
      s.getChars(from, to, chars, length)
      length += to - from
    }
    def add(c: Char): Unit = { reserve(1); chars(length) = c; length += 1 }
    private def reserve(more: Int): Unit =
      if (length + more > chars.length)
        chars = java.util.Arrays.copyOf(chars, math.max(length + more, 2 * chars.length))

    /** The collapsed text; empties the buffer. */
    def take(): String = {
      val out =
        if (!amp) collapsed(chars, length)
        else {
          val decoded = decodeEntities(new String(chars, 0, length)).toCharArray
          collapsed(decoded, decoded.length)
        }
      length = 0
      amp = false
      out
    }
  }

  private final class CellBuf(val row: Int, val col: Int, val rowSpan: Int, val colSpan: Int,
                              val header: Boolean, val bbox: Bbox) {
    var text = ""
  }

  private final class TableBuf(val bbox: Bbox) {
    val cells = mutable.ArrayBuffer.empty[CellBuf]
    var row = -1
    var col = 0
    /** Per column, the first row that no rowspan placed so far covers
      * (Int.MinValue: none). Cells only start on the current row or above
      * it, so (r, c) is taken iff `busyUntil(c) > r`. */
    private var busyUntil = new Array[Int](0)
    var current: CellBuf = null
    /** The current cell's raw text. */
    val text = new TextBuf

    def busy(c: Int): Boolean = c < busyUntil.length && busyUntil(c) > row

    /** Marks columns [from, to) as taken until row `end`. */
    def cover(from: Int, to: Int, end: Int): Unit = {
      if (to > busyUntil.length) {
        val old = busyUntil.length
        busyUntil = java.util.Arrays.copyOf(busyUntil, math.max(to, 2 * old))
        java.util.Arrays.fill(busyUntil, old, busyUntil.length, Int.MinValue)
      }
      var c = from
      while (c < to) {
        if (busyUntil(c) < end) busyUntil(c) = end
        c += 1
      }
    }
  }

  /** Parse one HTML document into its standard view. Deterministic,
    * allocation-light. */
  def parse(url: String, html: String): Doc = {
    val cfg = ParseConfig.Standard
    applyConfig(parseDetailed(url, html), cfg.linkDensityThreshold, cfg.minContentChars)
  }

  /** Config-independent parse: text blocks keep their pre-boiler label; the
    * boilerplate inputs ride in the meta array (see [[applyConfig]]). */
  def parseDetailed(url: String, html: String): Parsed = new Parser(url, html).run()

  /** One document's scan: the tag-context state, the open block and the
    * table stack. */
  private final class Parser(url: String, s: String) {
    private val n = s.length
    private val items = mutable.ArrayBuffer.empty[DocItem]
    private val metas = mutable.ArrayBuffer.empty[BlockMeta]
    private val pages = mutable.ArrayBuffer.empty[PageDim]
    private var pageNo = 1
    private var sawPageDiv = false
    private var pageHeight = 0.0
    private var pageRecorded = false
    private var idx = 0

    // tag-context state
    private var anchorDepth = 0
    private var furnitureDepth = 0
    private var headerFooterDepth = 0
    private var headingLevel = 0
    private var listDepth = 0
    private var figcaptionDepth = 0
    private var cellBbox: Bbox = null

    // the open text block
    private var blockOpen = false
    private val blockText = new TextBuf
    private var blockAnchorChars = 0
    private var blockLabel: String = Label.Text
    private var blockFurniture = false
    private var blockBbox: Bbox = null

    // real crawl HTML nests tables: inner tables emit as their own items
    // while the outer table keeps collecting; `table` is the innermost
    private val tableStack = mutable.ArrayBuffer.empty[TableBuf]
    private var table: TableBuf = null

    private val spans = new Array[Int](2 * BodyAttrs.size)
    /** The first `&` at or after the last text run looked at (n: none). */
    private var nextAmp = -1

    def run(): Parsed = {
      var i = 0
      var rawTextEnd: String = null
      while (i < n) {
        if (rawTextEnd != null) {
          // skip raw text content of script/style/title
          val close = s.indexOf(rawTextEnd, i)
          i =
            if (close < 0) n
            else {
              val end = s.indexOf('>', close)
              if (end < 0) n else end + 1
            }
          rawTextEnd = null
        } else {
          val lt = s.indexOf('<', i)
          if (lt < 0) {
            emitText(i, n); i = n
          } else {
            if (lt > i) emitText(i, lt)
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
              if (gt < 0) i = n
              else {
                rawTextEnd = handleTag(lt, gt)
                i = gt + 1
              }
            }
          }
        }
      }
      flushBlock()
      while (table != null) finishTable() // unterminated tables at EOF
      recordPage()
      Parsed(Doc(url, items.toArray, pages.toArray), metas.toArray)
    }

    private def nextIdx(): Int = { val v = idx; idx += 1; v }

    private def recordPage(): Unit =
      if (!pageRecorded) { pages += PageDim(pageNo, 0.0, pageHeight); pageRecorded = true }

    private def hasAmp(from: Int, to: Int): Boolean = {
      if (nextAmp < from) {
        val k = s.indexOf('&', from)
        nextAmp = if (k < 0) n else k
      }
      nextAmp < to
    }

    private def startBlock(): Unit =
      if (!blockOpen) {
        blockOpen = true
        blockAnchorChars = 0
        blockLabel = Label.Text
        blockFurniture = false
        blockBbox = null
      }

    private def flushBlock(): Unit =
      if (blockOpen) {
        blockOpen = false
        val raw = blockText.take()
        if (raw.nonEmpty) {
          val chars = raw.length
          val linkDensity = math.min(1.0, blockAnchorChars.toDouble / chars)
          recordPage()
          // Boilerpipe-class thresholding happens in applyConfig; the raw
          // item keeps its pre-boiler label and Body layer
          items += DocItem(nextIdx(), ItemKind.Text, blockLabel, ContentLayer.Body,
            pageNo, Option(blockBbox), raw, None)
          // raw is collapsed (single spaces), so words = runs of non-space chars
          var words = 0
          var inWord = false
          var wi = 0
          while (wi < chars) {
            if (raw.charAt(wi) == ' ') inWord = false
            else if (!inWord) { words += 1; inWord = true }
            wi += 1
          }
          metas += BlockMeta(linkDensity, chars, structural = blockFurniture, words = words)
        }
      }

    private def emitText(from: Int, to: Int): Unit =
      if (table != null) {
        if (table.current != null) {
          table.text.add(s, from, to)
          if (hasAmp(from, to)) table.text.amp = true
        }
      } else {
        var k = from
        while (k < to && isWs(s.charAt(k))) k += 1
        if (k < to) {
          startBlock()
          blockText.add(s, from, to)
          val amp = hasAmp(from, to)
          if (amp) blockText.amp = true
          if (anchorDepth > 0) blockAnchorChars +=
            (if (!amp) collapsedLength(s, from, to)
             else {
               val d = decodeEntities(s.substring(from, to))
               collapsedLength(d, 0, d.length)
             })
          if (furnitureDepth > 0 || headerFooterDepth > 0) blockFurniture = true
          if (headingLevel == 1) blockLabel = Label.Title
          else if (headingLevel >= 2) blockLabel = Label.SectionHeader
          else if (figcaptionDepth > 0) blockLabel = Label.Caption
          else if (listDepth > 0) blockLabel = Label.ListItem
          if (blockBbox == null) blockBbox = cellBbox
        } else if (blockOpen) blockText.add(' ')
      }

    /** Ends the current cell of `t`, if any, and keeps its text. */
    private def closeCell(t: TableBuf): Unit =
      if (t.current != null) {
        t.current.text = t.text.take()
        t.current = null
      }

    private def finishTable(): Unit = {
      val t = tableStack.remove(tableStack.length - 1)
      table = if (tableStack.isEmpty) null else tableStack.last
      closeCell(t)
      // dimensions from the cells' extents; a rowspan ends at the last row
      var numRows = 0
      var numCols = 0
      val cells = new Array[TableCell](t.cells.length)
      var k = 0
      while (k < cells.length) {
        val cb = t.cells(k)
        val rowSpan = math.min(cb.rowSpan, t.row + 1 - cb.row)
        val endRow = cb.row + rowSpan
        val endCol = cb.col + cb.colSpan
        if (endRow > numRows) numRows = endRow
        if (endCol > numCols) numCols = endCol
        cells(k) = TableCell(cb.row, endRow, cb.col, endCol, rowSpan, cb.colSpan, cb.text,
          columnHeader = cb.header, rowHeader = false, rowSection = false,
          fillable = false, bbox = Option(cb.bbox))
        k += 1
      }
      recordPage()
      items += DocItem(nextIdx(), ItemKind.Table, Label.Table, ContentLayer.Body,
        pageNo, Option(t.bbox), "", Some(TableData(numRows, numCols, cells)))
      metas += null
    }

    private def readAttrs(from: Int, to: Int): Unit = parseAttrs(s, from, to, BodyAttrs, spans)
    private def attr(k: Int): String = attrValue(s, spans, k)
    private def bbox(): Bbox = {
      val v = attr(DataBbox)
      if (v == null) null else parseBbox(v, attr(DataOrigin))
    }
    private def spanAttr(k: Int): Int = {
      val v = attr(k)
      if (v == null) 1 else v.toIntOption.getOrElse(1).max(1)
    }

    /** Acts on the tag s[lt, gt]; returns what ends a raw-text element it
      * opens, else null. */
    private def handleTag(lt: Int, gt: Int): String = {
      var p = lt + 1
      val closing = p < gt && s.charAt(p) == '/'
      if (closing) p += 1
      val nameStart = p
      while (p < gt && !isWs(s.charAt(p)) && s.charAt(p) != '/') p += 1
      val tag = if (p > nameStart) Tags.indexOf(s, nameStart, p) else -1
      if (tag < 0) return null // inline tag: ignore
      val open = !closing
      (TagKinds(tag): @switch) match {
        case RawText =>
          if (open) return RawTextEnds(tag)
        case Anchor =>
          if (closing) anchorDepth = math.max(0, anchorDepth - 1) else anchorDepth += 1
        case Furniture =>
          if (closing) furnitureDepth = math.max(0, furnitureDepth - 1)
          else furnitureDepth += 1
          flushBlock()
        case HeaderFooter =>
          if (closing) headerFooterDepth = math.max(0, headerFooterDepth - 1)
          else headerFooterDepth += 1
          flushBlock()
        case Heading =>
          flushBlock()
          if (closing) headingLevel = 0
          else {
            headingLevel = Tags(tag).charAt(1) - '0'
            startBlock()
            readAttrs(p, gt)
            blockBbox = bbox()
          }
        case ListItemTag =>
          flushBlock()
          if (open) { startBlock(); readAttrs(p, gt); blockBbox = bbox() }
        case ListTag =>
          flushBlock()
          if (closing) listDepth = math.max(0, listDepth - 1) else listDepth += 1
        case Figure =>
          flushBlock()
        case Figcaption =>
          flushBlock()
          if (closing) figcaptionDepth = math.max(0, figcaptionDepth - 1) else figcaptionDepth += 1
        case Img =>
          flushBlock()
          recordPage()
          // a closing </img> carries no attributes
          readAttrs(p, if (closing) p else gt)
          // picture-region text (the KPI-OCR analog) rides in an attribute;
          // it is NOT body text — only the caption pass reads it
          val text = attr(PictureText)
          items += DocItem(nextIdx(), ItemKind.Picture, Label.Picture, ContentLayer.Body,
            pageNo, Option(bbox()), if (text == null) "" else text, None)
          metas += null
        case TableTag =>
          if (closing) { if (table != null) finishTable() }
          else {
            flushBlock()
            readAttrs(p, gt)
            table = new TableBuf(bbox())
            tableStack += table
          }
        case Row =>
          if (table != null && open) {
            closeCell(table)
            table.row += 1
            table.col = 0
          }
        case CellTag =>
          if (table != null) {
            val t = table
            closeCell(t)
            if (open) {
              // advance past columns a rowspan from above still covers
              while (t.busy(t.col)) t.col += 1
              readAttrs(p, gt)
              val rowSpan = spanAttr(RowSpanAttr)
              val colSpan = math.min(spanAttr(ColSpanAttr), MaxColSpan)
              val cb = new CellBuf(t.row, t.col, rowSpan, colSpan,
                header = Tags(tag) == "th" || t.row == 0, bbox = bbox())
              // the current row's columns need no mark: col only moves right
              if (rowSpan > 1)
                t.cover(t.col, t.col + colSpan, math.min(t.row.toLong + rowSpan, Int.MaxValue).toInt)
              t.col += colSpan
              t.cells += cb
              t.current = cb
            }
          }
        case Div =>
          flushBlock()
          if (closing) cellBbox = null
          else {
            readAttrs(p, gt)
            val cls = attr(ClassAttr)
            if (cls != null && hasClassToken(cls, "page")) {
              if (sawPageDiv) { pageNo += 1; pageRecorded = false }
              sawPageDiv = true
              val height = attr(PageHeight)
              pageHeight = if (height == null) 0.0 else height.toDoubleOption.getOrElse(0.0)
              // pre-page furniture (site header/nav) may have recorded this page
              // with an unknown height; the page wrapper is authoritative
              if (pageRecorded && pages.nonEmpty && pages.last.pageNo == pageNo)
                pages(pages.length - 1) = PageDim(pageNo, 0.0, pageHeight)
              else recordPage()
            } else cellBbox = bbox()
          }
        case BlockTag =>
          flushBlock()
          if (open) { startBlock(); readAttrs(p, gt); blockBbox = bbox() }
        case Break =>
          flushBlock()
      }
      null
    }
  }
}
