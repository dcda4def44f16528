package graft.extract

import graft.model._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** The index-scanning tokenizer against its frozen copy in
  * OracleHtmlExtract.scala: the same items, tables, pages and block meta,
  * and the same head metadata, on generated HTML. Two generators: free
  * markup soup (any tag order, malformed and unterminated constructs, cells
  * that span one row) and page-structured documents whose tables carry
  * rowspans that end at or before the table's last row. The scanner clips a
  * longer rowspan where the copy kept it, so only in-range spans are
  * generated. */
class HtmlExtractOracleSpec extends AnyFunSuite {
  private val Cases = 5000

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(Cases).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  private def show(x: Any): String = String.valueOf(x).flatMap {
    case c if c < ' ' || c > '~' => f"\\u${c.toInt}%04X"
    case c => c.toString
  }

  /** A Parsed with its arrays as Seqs, so that == compares contents. */
  private def canon(p: HtmlExtract.Parsed): (Seq[Any], Seq[PageDim], Seq[HtmlExtract.BlockMeta]) =
    (p.doc.items.toSeq.map(i => (i.copy(table = None),
      i.table.map(t => (t.numRows, t.numCols, t.cells.toSeq)))),
      p.doc.pages.toSeq, p.meta.toSeq)

  private def sameParse(html: String): Prop = {
    val got = canon(HtmlExtract.parseDetailed("u", html))
    val want = canon(OracleHtmlExtract.parseDetailed("u", html))
    Prop(got == want) :| s"parseDetailed(${show(html)}):\n got ${show(got)}\nwant ${show(want)}"
  }

  // ---- text ---------------------------------------------------------------

  // Character.isWhitespace and not (U+001C..U+001F), both (\t \n ...), and
  // neither but <= ' ' (the controls String.trim drops); U+00A0 and U+2003
  private val spaceGen: Gen[String] = Gen.oneOf(" ", "  ", "\t", "\n", "\r\n", "\u000B", "\f",
    "\u001C", "\u001F", "\u0085", " ", " ", "　", "\u0000", "\u0001", "\u0008",
    "\u000E", "\u001B", "   ")
  private val wordGen: Gen[String] = Gen.oneOf("Profit", "net", "RON", "158.065.856", "24,66%",
    "ț", "Analiza", "rezultatelor", "șî", "x", "a", "漢字", "😀", "—", "=", "/", "'", "\"")
  private val entityGen: Gen[String] = Gen.oneOf("&amp;", "&nbsp;", "&lt;", "&gt;", "&quot;",
    "&apos;", "&ndash;", "&mdash;", "&hellip;", "&copy;", "&eacute;", "&AMP;", "&#65;",
    "&#x21b;", "&#X21B;", "&#539;", "&#32;", "&#10;", "&#160;", "&#x1;", "&#+66;",
    "&#x1F600;", "&#-1;", "&#x110000;", "&#xD800;", "&#;", "&#x;", "&#xZZ;", "&unknown;",
    "&verylongentityname;", "&#00000000065;", "&#99999999999;", "&amp", "&", "&&;", "&;")
  private val textGen: Gen[String] = for {
    n <- Gen.chooseNum(1, 6)
    parts <- Gen.listOfN(n, Gen.frequency(5 -> wordGen, 3 -> spaceGen, 2 -> entityGen))
  } yield parts.mkString

  // ---- tags ---------------------------------------------------------------

  private def caseGen(name: String): Gen[String] =
    Gen.frequency(6 -> Gen.const(name), 1 -> Gen.const(name.toUpperCase),
      1 -> Gen.const(name.capitalize))

  private def quoteGen(value: String): Gen[String] =
    if (value.exists(c => c.isWhitespace || c == '>' || c == '"' || c == '\''))
      Gen.oneOf("\"" + value + "\"", "'" + value + "'")
    else Gen.oneOf("\"" + value + "\"", "'" + value + "'", value)

  private def attrGen(name: String, values: Gen[String]): Gen[String] = for {
    n <- caseGen(name)
    v <- values
    q <- quoteGen(v)
    eq <- Gen.frequency(8 -> Gen.const("="), 1 -> Gen.const(" = "), 1 -> Gen.const("\t="))
    bare <- Gen.frequency(12 -> false, 1 -> true)
  } yield if (bare) n else n + eq + q

  private val bboxGen: Gen[String] = Gen.oneOf("1,2,3,4", "10.5,20,30.25,40", " 1, 2 ,3,4 ",
    "1,2,3,4,,", "1,2,3", ",1,2,3", "a,b,c,d", "1,2,3,4,5", "", "1e2,0x10,NaN,-4",
    "1,2,3,4&#44;", "1&#44;2,3,4,5", ",,,,", "1,,3,4")
  private val commonAttrGen: Gen[String] = Gen.frequency(
    3 -> attrGen("data-bbox", bboxGen),
    1 -> attrGen("data-origin", Gen.oneOf("BOTTOMLEFT", "TOPLEFT", "x&amp;y")),
    1 -> attrGen("class", Gen.oneOf("note", "page", "x page", "pages", "")),
    1 -> attrGen("id", Gen.oneOf("a", "b c")),
    1 -> attrGen("href", Gen.oneOf("/a", "http://x/?a=1&amp;b=2")),
    1 -> Gen.oneOf("/", "=x", "x=", "data-BBOX='1,2,3,4'", "Key=1", "dİv=1"))
  private def attrsGen(extra: Gen[String]): Gen[String] = for {
    n <- Gen.chooseNum(0, 3)
    as <- Gen.listOfN(n, Gen.frequency(3 -> commonAttrGen, 2 -> extra))
    seps <- Gen.listOfN(n, Gen.oneOf(" ", "  ", "\n", "\t"))
    end <- Gen.frequency(6 -> Gen.const(""), 1 -> Gen.const(" "), 1 -> Gen.const("/"),
      1 -> Gen.const(" /"))
  } yield seps.zip(as).map { case (s, a) => s + a }.mkString + end

  private def openGen(name: String, extra: Gen[String] = commonAttrGen): Gen[String] = for {
    n <- caseGen(name)
    as <- attrsGen(extra)
  } yield s"<$n$as>"
  private def closeGen(name: String): Gen[String] = caseGen(name).map(n => s"</$n>")

  private val blockNames = Seq("p", "div", "li", "ul", "ol", "h1", "h2", "h3", "h6", "blockquote",
    "pre", "section", "article", "main", "figure", "figcaption", "nav", "aside", "header",
    "footer", "br", "hr")
  private val inlineNames = Seq("a", "span", "b", "em", "h7", "tbody", "thead", "font",
    "scriptx", "blockquotes", "blocKquote", "dİv",
    "bloc\u212Aquote") // KELVIN SIGN lower-cases to 'k'
  private val pictureTextGen = attrGen("data-picture-text",
    Gen.oneOf("PROFIT NET RON 42,92 MIL. +103,61%", "31.12.2024", "a &amp; b", ""))
  private val pageHeightGen = attrGen("data-page-height", Gen.oneOf("842", "595.5", "x", "", " 1 "))

  /** A script, style or title element; `wild` adds a close tag without
    * its `>`, which swallows the next tag. An upper-case or missing close
    * tag swallows the rest of the document (the close is matched in lower
    * case). */
  private def rawTextGen(wild: Boolean): Gen[String] = for {
    name <- Gen.oneOf("script", "style", "title")
    open <- openGen(name)
    body <- Gen.oneOf("var x = '<p>not content</p>';", "p { color: red }", "Site &amp; title",
      "a < b && c > d", "")
    close <- Gen.frequency(12 -> Gen.const(s"</$name>"), 1 -> Gen.const(s"</${name.toUpperCase}>"),
      1 -> Gen.const(""), (if (wild) 2 else 0) -> Gen.const(s"</$name"))
  } yield open + body + close

  private val markupGen: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf(blockNames).flatMap(n => Gen.oneOf(openGen(n), closeGen(n))),
    4 -> Gen.oneOf(inlineNames).flatMap(n => Gen.oneOf(openGen(n), closeGen(n))),
    2 -> Gen.oneOf(openGen("img", Gen.oneOf(pictureTextGen, commonAttrGen)), closeGen("img")),
    2 -> openGen("div", Gen.oneOf(attrGen("class", Gen.oneOf("page", "report page")),
      pageHeightGen)),
    1 -> Gen.oneOf("<!-- a comment <p>x</p> -->", "<!DOCTYPE html>", "<!doctype>", "<!>",
      "<!-- -->", "<>", "</>", "< p>", "<p/>", "<br/>", "&am<b>p;", "&#x2<i>1b;"),
    1 -> rawTextGen(wild = false))

  /** Anything that does not end in an in-range-breaking construct. */
  private val safeGen: Gen[String] = Gen.frequency(5 -> textGen, 4 -> markupGen)

  // unterminated constructs that swallow what follows, and table tags whose
  // cells span one row
  private val oneRowSpanGen = Gen.oneOf("1", "0", "-3", "x", "", "+1", "99999999999")
  private val cellSpanAttrGen = Gen.oneOf(attrGen("rowspan", oneRowSpanGen),
    attrGen("colspan", Gen.oneOf("1", "2", "3", "0", "-1", "y", "+2", "٢")))
  private val wildGen: Gen[String] = Gen.frequency(
    12 -> safeGen,
    1 -> Gen.oneOf("<", ">", "<!--", "<!x", "<p class=\"a", "<script>", "<title>", "</", "<td",
      "&"),
    1 -> rawTextGen(wild = true),
    3 -> Gen.oneOf(openGen("table"), closeGen("table"), openGen("tr"), closeGen("tr"),
      openGen("td", cellSpanAttrGen), openGen("th", cellSpanAttrGen), closeGen("td"),
      closeGen("th")))

  private val wildDocGen: Gen[String] =
    Gen.chooseNum(0, 60).flatMap(n => Gen.listOfN(n, wildGen)).map(_.mkString)

  // ---- page-structured documents -----------------------------------------

  /** A table of `rows` rows whose cells fill a grid; a cell's rowspan ends
    * at or before the last row. `depth` bounds nested tables in cells. */
  private def tableGen(depth: Int, terminated: Boolean): Gen[String] = for {
    rows <- Gen.chooseNum(1, 4)
    open <- openGen("table")
    body <- rowsGen(rows, depth)
  } yield open + body + (if (terminated) "</table>" else "")

  private def rowsGen(rows: Int, depth: Int): Gen[String] =
    Gen.sequence[List[String], String]((0 until rows).map(r => rowGen(rows - r, depth)))
      .map(_.mkString)

  private def rowGen(rowsLeft: Int, depth: Int): Gen[String] = for {
    open <- Gen.frequency(8 -> openGen("tr"), 1 -> Gen.const("<TR>"))
    n <- Gen.chooseNum(0, 4)
    cells <- Gen.listOfN(n, cellGen(rowsLeft, depth))
    close <- Gen.oneOf("</tr>", "", "\n")
  } yield open + cells.mkString + close

  private def cellGen(rowsLeft: Int, depth: Int): Gen[String] = for {
    name <- Gen.frequency(4 -> "td", 1 -> "th")
    span <- Gen.chooseNum(1, rowsLeft)
    spanText <- Gen.oneOf(span.toString, "+" + span, if (span == 2) "٢" else span.toString)
    rowspan <- if (span == 1) Gen.oneOf(Gen.const(""), attrGen("rowspan", oneRowSpanGen))
               else attrGen("rowspan", Gen.const(spanText))
    colspan <- Gen.frequency(3 -> Gen.const(""),
      1 -> attrGen("colspan", Gen.oneOf("1", "2", "3", "0", "z")))
    more <- attrsGen(commonAttrGen)
    tag <- caseGen(name)
    content <- cellContentGen(depth)
    close <- Gen.frequency(4 -> Gen.const(s"</$name>"), 1 -> Gen.const(""))
  } yield s"<$tag $rowspan $colspan$more>$content$close"

  private def cellContentGen(depth: Int): Gen[String] = {
    val piece = Gen.frequency(6 -> textGen,
      2 -> Gen.oneOf(inlineNames ++ Seq("p", "br", "div", "li")).flatMap(n =>
        Gen.oneOf(openGen(n), closeGen(n))),
      1 -> openGen("img", pictureTextGen))
    val withTable =
      if (depth <= 0) piece
      else Gen.frequency(8 -> piece, 1 -> tableGen(depth - 1, terminated = true))
    Gen.chooseNum(0, 4).flatMap(n => Gen.listOfN(n, withTable)).map(_.mkString)
  }

  private val structuredDocGen: Gen[String] = for {
    pages <- Gen.chooseNum(1, 3)
    prefix <- Gen.listOfN(2, safeGen)
    bodies <- Gen.listOfN(pages, for {
      open <- openGen("div", Gen.oneOf(attrGen("class", Gen.const("page")), pageHeightGen))
      n <- Gen.chooseNum(1, 8)
      blocks <- Gen.listOfN(n, Gen.frequency(4 -> safeGen,
        2 -> tableGen(2, terminated = true), 1 -> tableGen(1, terminated = false)))
    } yield open.replace("<div", "<div class=\"page\"") + blocks.mkString + "</div>")
  } yield prefix.mkString + bodies.mkString

  private val headGen: Gen[String] = for {
    parts <- Gen.listOfN(6, Gen.frequency(
      2 -> openGen("html", attrGen("lang", Gen.oneOf("ro", "en-US", "", "a&amp;b"))),
      2 -> openGen("link", Gen.oneOf(attrGen("rel", Gen.oneOf("canonical", "CANONICAL", "icon")),
        attrGen("href", Gen.oneOf("https://x/a", "/b?c=1&amp;d=2")))),
      2 -> openGen("meta", Gen.oneOf(attrGen("name", Gen.oneOf("robots", "ROBOTS", "viewport")),
        attrGen("content", Gen.oneOf("noindex, nofollow", "NOINDEX", "index", "")))),
      1 -> rawTextGen(wild = true),
      1 -> Gen.oneOf("<body>", "<!-- <link rel=canonical href=/c> -->", "<head>"),
      2 -> wildGen))
  } yield parts.mkString

  test("parseDetailed matches the frozen copy on markup soup") {
    check(Prop.forAll(wildDocGen)(sameParse))
  }

  test("parseDetailed matches the frozen copy on page-structured documents with in-range spans") {
    check(Prop.forAll(structuredDocGen)(sameParse))
  }

  test("headMeta matches the frozen copy") {
    check(Prop.forAll(headGen) { html =>
      val got = HtmlExtract.headMeta(html)
      val want = OracleHtmlExtract.headMeta(html)
      Prop(got == want) :| s"headMeta(${show(html)}): got $got, want $want"
    })
  }

  test("parseDetailed matches the frozen copy on SyntheticPages and skewed pages") {
    for (i <- 0L until 300L) {
      val p = if (i % 3 == 0) graft.sources.SyntheticPages.skewPage(14L, i, giantScale = 5)
              else graft.sources.SyntheticPages.page(14L, i)
      val html = new String(p.html, java.nio.charset.StandardCharsets.UTF_8)
      assert(canon(HtmlExtract.parseDetailed(p.url, html)) ==
        canon(OracleHtmlExtract.parseDetailed(p.url, html)), s"page $i")
    }
  }
}
