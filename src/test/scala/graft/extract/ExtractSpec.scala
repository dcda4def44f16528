package graft.extract

import org.scalatest.funsuite.AnyFunSuite
import graft.model._
import graft.sources.SyntheticPages

class DocTransformsSpec extends AnyFunSuite {
  private def cell(r0: Int, r1: Int, c0: Int, c1: Int, text: String,
                   header: Boolean = false): TableCell =
    TableCell(r0, r1, c0, c1, r1 - r0, c1 - c0, text, header, false, false, false, None)

  /** FIXTURES.md §4 / reference tests/unit/test_table_fixes.py:19-199 —
    * the hand-built 2x10 table with currency+value header groups. */
  private def sampleTable: TableData = {
    val cells = Array(
      cell(0, 1, 0, 1, "Indicatori", header = true),
      cell(0, 1, 1, 3, "30/09/2025", header = true),
      cell(0, 1, 3, 5, "30/09/2024", header = true),
      cell(0, 1, 5, 7, "30/09/2025", header = true),
      cell(0, 1, 7, 9, "30/09/2024", header = true),
      cell(0, 1, 9, 10, "Delta%", header = true),
      cell(1, 2, 0, 1, "CIFRA"),
      cell(1, 2, 1, 2, "RON"), cell(1, 2, 2, 3, "158.065.856"),
      cell(1, 2, 3, 4, "RON"), cell(1, 2, 4, 5, "126.792.531"),
      cell(1, 2, 5, 6, "EUR"), cell(1, 2, 6, 7, "36.549.554"),
      cell(1, 2, 7, 8, "EUR"), cell(1, 2, 8, 9, "29.318.226"),
      cell(1, 2, 9, 10, "24,66%"))
    TableData(2, 10, cells)
  }

  test("collapse_table_header_groups: 10 cols -> 6, currency+value merged") {
    val out = DocTransforms.collapseTableHeaderGroups(sampleTable)
    assert(out.nonEmpty)
    val t = out.get
    assert(t.numCols == 6)
    val c10 = t.cells.find(c => c.startRow == 1 && c.startCol == 0).get
    assert(c10.text == "CIFRA")
    val c11 = t.cells.find(c => c.startRow == 1 && c.startCol == 1).get
    assert(c11.text == "RON 158.065.856")
  }

  test("collapse: all-width-1 headers is a no-op") {
    val cells = Array(
      cell(0, 1, 0, 1, "A", header = true), cell(0, 1, 1, 2, "B", header = true),
      cell(1, 2, 0, 1, "x"), cell(1, 2, 1, 2, "y"))
    assert(DocTransforms.collapseTableHeaderGroups(TableData(2, 2, cells)).isEmpty)
  }

  test("currency majority: dominant RON rewrites flipped EUR cell") {
    val cells = Array(
      cell(0, 1, 0, 1, "Indicatori", header = true), cell(0, 1, 1, 2, "30/09/2025", header = true),
      cell(1, 2, 0, 1, "A"), cell(1, 2, 1, 2, "RON 1.000.000"),
      cell(2, 3, 0, 1, "B"), cell(2, 3, 1, 2, "RON 2.000.000"),
      cell(3, 4, 0, 1, "C"), cell(3, 4, 1, 2, "RON 3.000.000"),
      cell(4, 5, 0, 1, "D"), cell(4, 5, 1, 2, "EUR 158.065.856"))
    val (t, n) = DocTransforms.normalizeTableCurrencyColumns(TableData(5, 2, cells))
    assert(n == 1)
    assert(t.cells.find(_.startRow == 4).map(_.text).contains("D"))
    assert(t.cells.find(c => c.startRow == 4 && c.startCol == 1).get.text == "RON 158.065.856")
  }

  test("currency majority: below-0.7 dominance leaves cells alone") {
    val cells = Array(
      cell(1, 2, 1, 2, "RON 1.000.000"), cell(2, 3, 1, 2, "EUR 2.000.000"))
    val (_, n) = DocTransforms.normalizeTableCurrencyColumns(TableData(3, 2, cells))
    assert(n == 0)
  }

  test("spatial delete: date-only inside picture removed, outside kept") {
    val items = Array(
      DocItem(0, ItemKind.Picture, Label.Picture, ContentLayer.Body, 1,
        Some(Bbox(0, 0, 100, 100, Bbox.TopLeft)), "", None),
      DocItem(1, ItemKind.Text, Label.Text, ContentLayer.Body, 1,
        Some(Bbox(10, 10, 20, 20, Bbox.TopLeft)), "31.12.2024", None),
      DocItem(2, ItemKind.Text, Label.Text, ContentLayer.Body, 1,
        Some(Bbox(200, 200, 210, 210, Bbox.TopLeft)), "30.09.2025", None))
    val (doc, n) = DocTransforms.removeDateOnlyTextInsidePictures(
      Doc("u", items, Array(PageDim(1, 0, 800))))
    assert(n == 1)
    assert(doc.items.map(_.text).toSet == Set("", "30.09.2025"))
  }

  test("suspect cell count uses the cleaned text") {
    val items = Array(
      DocItem(0, ItemKind.Table, Label.Table, ContentLayer.Body, 1, None, "",
        Some(TableData(1, 1, Array(cell(0, 1, 0, 1, "EUR .961.31"))))))
    assert(DocTransforms.countSuspectTableCells(Doc("u", items, Array.empty)) == 1)
  }

  test("OCR merge: shape-matched keyed replacement of suspect cell") {
    def doc(text: String) = Doc("u", Array(
      DocItem(0, ItemKind.Table, Label.Table, ContentLayer.Body, 1, None, "",
        Some(TableData(1, 1, Array(cell(0, 1, 0, 1, text)))))), Array(PageDim(1, 0, 800)))
    val (merged, n) = DocTransforms.mergeTableCellsWithOcr(doc("EUR .961.31"), doc("EUR 6.961.310"),
      spacedMode = false)
    assert(n == 1)
    assert(merged.items(0).table.get.cells(0).text == "EUR 6.961.310")
  }
}

class HtmlExtractSpec extends AnyFunSuite {
  test("basic structure: headings, paragraphs, lists, tables, pictures") {
    val html =
      """<html><head><title>skip</title><script>x<p></script></head><body>
        |<nav><a href="/">Home</a> <a href="/x">X</a></nav>
        |<div class="page" data-page-height="800">
        |<h1>Titlul raportului</h1><h2>Sectiunea unu</h2>
        |<p>Un paragraf <b>simplu</b> de text.</p>
        |<ul><li>primul element</li><li>al doilea element</li></ul>
        |<table><tr><th>A</th><th colspan="2">B</th></tr>
        |<tr><td>1</td><td>2</td><td>3</td></tr></table>
        |<img src="x.png" data-bbox="1,2,3,4"/>
        |</div></body></html>""".stripMargin
    val doc = HtmlExtract.parse("u", html)
    val body = doc.items.filter(_.contentLayer == ContentLayer.Body)
    assert(body.map(_.label).toList ==
      List(Label.Title, Label.SectionHeader, Label.Text, Label.ListItem,
        Label.ListItem, Label.Table, Label.Picture))
    assert(body(2).text == "Un paragraf simplu de text.")
    val t = body(5).table.get
    assert(t.numRows == 2 && t.numCols == 3)
    assert(t.cells.find(c => c.startRow == 0 && c.startCol == 1).get.endCol == 3)
    assert(body(6).bbox.contains(Bbox(1, 2, 3, 4, Bbox.TopLeft)))
    // nav link farm is furniture
    assert(doc.items.exists(_.contentLayer == ContentLayer.Furniture))
  }

  test("entities and nbsp-preserved multi-space") {
    val doc = HtmlExtract.parse("u", "<p>a &amp; b&nbsp;&nbsp;c &#x21b; &#539;</p>")
    assert(doc.items.head.text == "a & b  c ț ț")
  }

  test("rowspan occupancy shifts following cells") {
    val html = "<table><tr><td rowspan=\"2\">a</td><td>b</td></tr><tr><td>c</td></tr></table>"
    val t = HtmlExtract.parse("u", html).items.head.table.get
    val c = t.cells.find(_.text == "c").get
    assert(c.startRow == 1 && c.startCol == 1)
    assert(t.numRows == 2 && t.numCols == 2)
  }

  test("a rowspan past the last row is clipped there and a colspan at 1000") {
    def html(rowSpan: Int, colSpan: Int) =
      s"<table><tr><td rowspan=$rowSpan colspan=$colSpan>x</td><td>y</td></tr>" +
        "<tr><td>z</td></tr></table>"
    def extract(h: String) = Pipeline.extractOne("u", h.getBytes("UTF-8"), "ro", 0)
    extract(html(2, 1)) // load and warm the chain
    val t0 = System.nanoTime()
    val row = extract(html(65534, 5000))
    val ms = (System.nanoTime() - t0) / 1000000
    assert(ms < 1000, s"$ms ms")
    assert(row.markdown.linesIterator.count(_.startsWith("|")) == 3, row.markdown.take(300))
    val t = HtmlExtract.parse("u", html(65534, 5000)).items.head.table.get
    assert(t.numRows == 2 && t.numCols == 1001)
    val x = t.cells.find(_.text == "x").get
    assert(x.rowSpan == 2 && x.endRow == 2 && x.colSpan == 1000)
    assert(t.cells.find(_.text == "z").get.startCol == 1000)
    // 1000 phantom rows before the clip
    assert(HtmlExtract.parse("u", html(1000, 1)).items.head.table.get.numRows == 2)
  }

  test("link-density boilerplate: short link farm dropped from body") {
    val doc = HtmlExtract.parse("u",
      "<p><a href=\"/a\">citeste</a> <a href=\"/b\">mai</a> <a href=\"/c\">mult</a></p>" +
      "<p>Acesta este continutul principal al documentului de analiza.</p>")
    val body = doc.items.filter(i => i.contentLayer == ContentLayer.Body)
    assert(body.length == 1)
    assert(body.head.text.startsWith("Acesta este"))
  }
}

/** End-to-end: synthetic dirty HTML -> parse -> transforms -> render must
  * equal the expectation computed from the dirty tree directly (two
  * independent paths to the same bytes). */
class EndToEndLocalSpec extends AnyFunSuite {
  val Seed = 42L

  test("html parse recovers the dirty body tree (items, tables, geometry)") {
    for (i <- 0L until 40L) {
      val doc = SyntheticPages.dirtyDoc(Seed, i)
      val html = SyntheticPages.htmlFor(doc, Seed, i)
      val parsed = HtmlExtract.parse(doc.url, html)
      val parsedBody = parsed.items.filter(i => i.contentLayer == ContentLayer.Body
        && Label.ExportLabels.contains(i.label))
      val expectBody = doc.items
      assert(parsedBody.length == expectBody.length, s"item count for doc $i")
      for ((a, b) <- parsedBody.zip(expectBody)) {
        assert(a.label == b.label, s"label at idx ${b.idx} doc $i")
        assert(a.text == b.text, s"text at idx ${b.idx} doc $i")
        assert(a.pageNo == b.pageNo, s"page at idx ${b.idx} doc $i")
        assert(a.bbox == b.bbox, s"bbox at idx ${b.idx} doc $i")
        (a.table, b.table) match {
          case (Some(ta), Some(tb)) =>
            assert(ta.numRows == tb.numRows && ta.numCols == tb.numCols, s"table shape doc $i")
            assert(ta.cells.map(c => (c.startRow, c.startCol, c.endRow, c.endCol, c.text)).toList ==
              tb.cells.map(c => (c.startRow, c.startCol, c.endRow, c.endCol, c.text)).toList,
              s"table cells doc $i")
          case (None, None) =>
          case _ => fail(s"table presence mismatch doc $i")
        }
      }
      assert(parsed.pages.map(p => (p.pageNo, p.height)).toList ==
        doc.pages.map(p => (p.pageNo, p.height)).toList, s"pages doc $i")
    }
  }

  test("full local pipeline output is byte-identical to the expected goldens") {
    for (i <- 0L until 40L) {
      val doc = SyntheticPages.dirtyDoc(Seed, i)
      val html = SyntheticPages.htmlFor(doc, Seed, i)
      val row = Pipeline.extractOne(doc.url,
        html.getBytes(java.nio.charset.StandardCharsets.UTF_8), "ro", 0)
      assert(row.markdown == SyntheticPages.expectedMarkdown(doc), s"markdown doc $i")
      assert(row.text == SyntheticPages.expectedText(doc), s"text doc $i")
    }
  }

  test("audit self-consistency: full coverage on own rendering") {
    val doc = SyntheticPages.expectedDoc(SyntheticPages.dirtyDoc(Seed, 3L))
    val md = MarkdownRender.render(doc)
    val metrics = graft.audit.Audit.auditDocVsMarkdown(doc, md)
    assert(metrics.tokenCoverage == 1.0)
    assert(metrics.numericRecall == 1.0)
    assert(metrics.dateRecall == 1.0)
  }
}

/** Typed UDAF over exploded items equals the doc-local audit counters. */
class AuditAggregatorSpec extends org.scalatest.funsuite.AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("aggregator over exploded items matches doc-local audit") {
    import spark.implicits._
    import graft.audit.{Audit, AuditAggregator}
    val docs = (0L until 12L).map(i => SyntheticPages.expectedDoc(SyntheticPages.dirtyDoc(42L, i)))
    val exploded = spark.createDataset(
      docs.flatMap(d => d.items.map(it => (d.url, AuditAggregator.fromItem(it)))))
    val viaAgg = exploded.groupByKey(_._1)
      .mapValues(_._2)
      .agg(AuditAggregator.agg.toColumn.name("c"))
      .collect().toMap
    for (d <- docs) {
      val m = Audit.auditDocVsMarkdown(d, "")
      val c = viaAgg(d.url)
      assert(c.spacedTableCells == m.spacedTableCells, d.url)
      assert(c.totalTableCells == m.totalTableCells, d.url)
      assert(c.spacedTextItems == m.spacedTextItems, d.url)
      assert(c.multiSpaceTextItems == m.multiSpaceTextItems, d.url)
      assert(c.totalTextItems == m.totalTextItems, d.url)
    }
  }
}

/** The published NumWordsRulesClassifier decision tree, branch by branch —
  * the q60 pipeline exercises the outer leaves; these fixtures pin the
  * neighbor-dependent inner ones. */
class BoilerpipeClassifierSpec extends org.scalatest.funsuite.AnyFunSuite {
  import graft.model.{ContentLayer, Label}

  private def classify(blocks: Seq[String]): Seq[Boolean] = {
    val html = "<html><body>" + blocks.map(b => s"<div>$b</div>").mkString + "</body></html>"
    val doc = HtmlExtract.applyBoilerpipe(HtmlExtract.parseDetailed("doc://t", html))
    doc.items.toSeq.map(_.contentLayer == ContentLayer.Body)
  }
  private def words(n: Int): String = (1 to n).map(k => s"cuvant$k").mkString(" ")
  private def links(n: Int): String =
    (1 to n).map(k => s"""<a href="/$k">Leg$k</a>""").mkString(" ")

  test("high own link density is always boilerplate") {
    assert(classify(Seq(words(50), links(10), words(50))) == Seq(true, false, true))
  }

  test("short block rescued by a long NEXT neighbor (caption-above shape)") {
    // curr <= 16 words, next > 15 words -> content
    assert(classify(Seq(words(8), words(30)))(0))
  }

  test("short block with short neighbors: prev <= 4 words drops it") {
    // prev 3 words, curr 10, next 5 -> boilerplate; with prev 20 -> content
    assert(!classify(Seq(words(3), words(10), words(5)))(1))
    assert(classify(Seq(words(20), words(10), words(5)))(1))
  }

  test("teaser after a link list: dropped unless next is long") {
    // prev linkDensity > 0.555: curr 10 <= 40 -> next decides (17 boundary)
    assert(!classify(Seq(links(10), words(10), words(17)))(1))
    assert(classify(Seq(links(10), words(10), words(18)))(1))
  }

  test("a > 40-word block after a link list is unconditionally content") {
    assert(classify(Seq(links(10), words(41)))(1))
  }

  test("headings are exempt from the word-count tree") {
    val html = "<html><body><h2>Titlu scurt</h2><div>" + words(30) + "</div></body></html>"
    val doc = HtmlExtract.applyBoilerpipe(HtmlExtract.parseDetailed("doc://t", html))
    val h = doc.items.find(_.label == Label.SectionHeader).get
    assert(h.contentLayer == ContentLayer.Body)
  }

  test("structural furniture (nav) stays furniture regardless of words") {
    val html = "<html><body><nav>" + words(50) + "</nav><div>" + words(30) + "</div></body></html>"
    val doc = HtmlExtract.applyBoilerpipe(HtmlExtract.parseDetailed("doc://t", html))
    assert(doc.items.count(_.contentLayer == ContentLayer.Body) == 1)
  }
}

class UrlCanonicalSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private def canon(urls: String*): Seq[String] = {
    import spark.implicits._
    urls.toDF("u")
      .select(graft.functions.UrlCanonical.canonicalizeUrl($"u"))
      .collect().map(_.getString(0)).toSeq
  }

  test("case, fragment, default port, tracking params, trailing slash") {
    val want = "https://www.site.ro/a/b?a=1&b=2"
    assert(canon(
      "https://www.site.ro/a/b?a=1&b=2",
      "HTTPS://WWW.SITE.RO/a/b?a=1&b=2#frag",
      "https://www.site.ro:443/a/b?a=1&b=2",
      "https://www.site.ro/a/b?b=2&utm_source=x&a=1&fbclid=y&gclid=z",
      "https://www.site.ro/a/b/?a=1&b=2").forall(_ == want))
  }

  test("scheme-matched port stripping only") {
    assert(canon("http://h.ro:80/x") == Seq("http://h.ro/x"))
    assert(canon("http://h.ro:443/x") == Seq("http://h.ro:443/x")) // not http's default
    assert(canon("https://h.ro:8443/x") == Seq("https://h.ro:8443/x"))
  }

  test("empty path becomes root; root slash is kept; query-only utm drops ?") {
    assert(canon("https://h.ro") == Seq("https://h.ro/"))
    assert(canon("https://h.ro/") == Seq("https://h.ro/"))
    assert(canon("https://h.ro/p?utm_campaign=x") == Seq("https://h.ro/p"))
  }

  test("path case is preserved (only scheme/host fold)") {
    assert(canon("HTTP://H.RO/CaseSensitive/Path") == Seq("http://h.ro/CaseSensitive/Path"))
  }

  test("unparseable inputs pass through unchanged (no ':///'-collapse merges)") {
    // relative and protocol-relative hrefs are common canonical-link values
    assert(canon("/articol/1") == Seq("/articol/1"))
    assert(canon("//host.ro/p") == Seq("//host.ro/p"))
    assert(canon("not a url at all") == Seq("not a url at all"))
    assert(canon("") == Seq(""))
    // two different unparseables must NOT share a canonical form
    assert(canon("/a", "/b").distinct.length == 2)
  }
}

class HeadMetaSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("canonical link, robots directives, html lang") {
    val hm = HtmlExtract.headMeta(
      """<html lang="ro"><head><meta charset="utf-8">
        |<meta name="robots" content="NOINDEX, nofollow">
        |<link rel="stylesheet" href="/s.css">
        |<link rel="canonical" href="https://site.ro/p?x=1">
        |</head><body>text</body></html>""".stripMargin)
    assert(hm.canonical == "https://site.ro/p?x=1")
    assert(hm.robotsNoindex && hm.robotsNofollow)
    assert(hm.htmlLang == "ro")
  }

  test("first canonical wins; post-body decoys and comments ignored") {
    val hm = HtmlExtract.headMeta(
      """<html><head><!-- <link rel="canonical" href="https://c.example/comment"> -->
        |<link rel="canonical" href="https://a.example/first">
        |<link rel="canonical" href="https://b.example/second">
        |</head><body><link rel="canonical" href="https://evil.example/x"></body>""".stripMargin)
    assert(hm.canonical == "https://a.example/first")
    assert(!hm.robotsNoindex && hm.htmlLang.isEmpty)
  }

  test("script/style contents are data, not markup (decoys + hidden body)") {
    // a '<body' inside a JS string must not stop the scan before the real
    // canonical; a canonical inside a script string must not count
    val hm = HtmlExtract.headMeta(
      """<html><head><script>var t = "<body>"; document.write('<link rel="canonical" href="https://evil.example/inject">');</script>
        |<style>/* <link rel="canonical" href="https://evil.example/css"> */</style>
        |<link rel="canonical" href="https://real.example/page">
        |</head><body></body></html>""".stripMargin)
    assert(hm.canonical == "https://real.example/page")
  }

  test("missing head degrades to empty meta, never throws") {
    assert(HtmlExtract.headMeta("") == HtmlExtract.HeadMeta("", false, false, ""))
    assert(HtmlExtract.headMeta("<p>no head at all</p>").canonical.isEmpty)
    HtmlExtract.headMeta("<html><head><link rel=") // truncated
  }
}
