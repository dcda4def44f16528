package graft.textkit

import graft.extract.{DocTransforms, MarkdownRender, OracleMarkdownRender, SpacingFix}
import graft.model._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** The cell-clean chain, the table and picture passes and the markdown post
  * passes against their frozen copies in TransformOracle.scala: same output
  * (and the same counters) on generated input that mixes the synthetic
  * corpus' dirty cells with the characters the regex classes treat
  * specially — Unicode whitespace on both sides of `\s`, non-ASCII and
  * supplementary digits, word chars next to currency tokens. */
class TransformOracleSpec extends AnyFunSuite {
  private val Cases = 20000

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(Cases).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  private def same[A](what: String, got: A, want: A, input: Any): Prop =
    Prop(got == want) :| s"$what(${show(input)}): got ${show(got)}, want ${show(want)}"

  private def show(x: Any): String = String.valueOf(x).flatMap {
    case c if c < ' ' || c > '~' => f"\\u${c.toInt}%04X"
    case c => c.toString
  }

  // ---- cell text ----------------------------------------------------------

  // \s on both sides of the line: White_Space but not Character.isWhitespace
  // (U+0085, U+00A0, U+2007, U+202F) and the reverse (U+001C..U+001F)
  private val wsChars = Seq(" ", "\t", "\r", "\n", "\u000B", "\f", "\u0085", "\u00A0",
    "\u2007", "\u202F", "\u3000", "\u2028", "\u2029", "\u1680", "\u001C", "\u001D",
    "\u001E", "\u001F")
  private val sepGen: Gen[String] = Gen.frequency(
    3 -> Gen.const(""), 10 -> Gen.const(" "), 2 -> Gen.const("  "),
    4 -> Gen.oneOf(wsChars), 1 -> Gen.listOfN(2, Gen.oneOf(wsChars)).map(_.mkString))
  // U+0663, U+0966 and U+FF11 are \d but not [0-9]; U+1D7CE is a \d outside
  // the BMP (a lookbehind reads one char of it, a lookahead the code point)
  private val digitGen: Gen[String] = Gen.frequency(
    8 -> Gen.numChar.map(_.toString), 1 -> Gen.oneOf("\u0663", "\u0966", "\uFF11", "\uD835\uDFCE"))
  private def digitsGen(lo: Int, hi: Int): Gen[String] =
    Gen.chooseNum(lo, hi).flatMap(n => Gen.listOfN(n, digitGen)).map(_.mkString)
  private val numberGen: Gen[String] = for {
    lead <- digitsGen(1, 3)
    groups <- Gen.chooseNum(0, 3)
    tail <- Gen.listOfN(groups, for {
      sep <- Gen.frequency(5 -> Gen.const("."), 2 -> Gen.const(","), 1 -> Gen.const(". "),
        1 -> Gen.const(" "))
      ds <- Gen.frequency(6 -> digitsGen(3, 3), 1 -> digitsGen(1, 2), 1 -> Gen.const(""))
    } yield sep + ds)
    end <- Gen.frequency(8 -> Gen.const(""), 1 -> Gen.oneOf(".", ",", "%", " %", "]", ")"))
  } yield lead + tail.mkString + end
  private val dateGen: Gen[String] = for {
    d <- digitsGen(1, 3); m <- digitsGen(1, 2); y <- digitsGen(2, 4)
    s1 <- Gen.oneOf(".", "/", "-"); s2 <- Gen.oneOf(".", "/", "-")
  } yield d + s1 + m + s2 + y
  // SyntheticPages' dirty, clean and header cells and dirty text, verbatim
  private val corpusCells = Seq(
    "168.506.901 RON", "78. RON 78.947.449", "16. EUR 16.559.155 R",
    "RON 418.244.920 N", "153.689.723 RON 153.689.723 RON",
    "16 RON 164.980.067 RON", "RON 78.947.449 ON", "126.39 ON 126.397.863 RON",
    "RON 139.369. 058 RON", "115.784.991 RON 7", "7 RO 133.339.798 R",
    "EUR ( 420 )", "RON 471.371]", "42 42.916.476", "1 234.567", "- 45,40%",
    "84 % 84 %", "RON 158.065.856", "RON 126.792.531", "EUR 36.549.554",
    "EUR 29.318.226", "RON (25.604)", "EUR (5.920)", "24,66%", "-81,10%", "3,50%",
    "Indicatori Indicatori", "31.12.202230/09/2025", "30/09/2024", "∆ %",
    "CIFRA DE AFACERI NETA", "SubvenÈ›ii pentru investiÈ›ii", "Proﬁtul reﬂecta")
  private val tokenGen: Gen[String] = Gen.oneOf(
    "RON", "EUR", "RO", "ON", "R", "E", "N", "RONx", "xRON", "_RON", "ÉEUR", "EUR_",
    "USD", "LEI", "MIL.", "vs", "9L", "Q1", "mil", "profit", "Indicatori", "a", "I", "é",
    "%", "(", ")", "[", "]", ".", ",", "-", "/", "+", "∆", "Δ", "ƒ^+%", "ƒ", "∆%", "Δ %",
    "\u00C8\u203A", "\uFB01", "\u0301", "\u200D", "\uD835\uDC00")
  private val pieceGen: Gen[String] = Gen.frequency(
    6 -> numberGen, 6 -> tokenGen, 2 -> dateGen, 2 -> Gen.oneOf(corpusCells), 1 -> digitGen)
  // the shapes of the anchored currency patterns, with any \s between the
  // tokens and, at times, a final line terminator (`$` matches before it)
  private val groupedGen: Gen[String] = for {
    lead <- digitsGen(1, 3)
    groups <- Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, digitsGen(3, 3)))
    frac <- Gen.frequency(4 -> Gen.const(""), 1 -> digitsGen(1, 2).map("," + _))
  } yield lead + groups.map("." + _).mkString + frac
  private val shapeGen: Gen[String] = for {
    cur <- Gen.oneOf("RON", "EUR")
    other <- Gen.oneOf("RON", "EUR")
    n1 <- groupedGen
    n2 <- Gen.frequency(1 -> Gen.const(n1), 1 -> groupedGen)
    short <- digitsGen(1, 2)
    shape <- Gen.oneOf(
      Seq(n1, cur), Seq(n1, "ON"), Seq(n1, cur, short), Seq(short, cur, n1),
      Seq(cur, n1, cur, n2), Seq(n1, cur, n2, other), Seq(short, cur, n1, other),
      Seq(short + ",3", "ON", n1, cur), Seq(cur, n1, other), Seq(cur, short, other),
      Seq(cur, n1, "R"), Seq(n1, "RO", cur), Seq(short + ".", cur, n1), Seq(cur, n1, "ON"))
    seps <- Gen.listOfN(shape.length - 1, Gen.frequency(
      6 -> Gen.const(" "), 3 -> Gen.oneOf(wsChars), 1 -> Gen.const("  ")))
    end <- Gen.frequency(6 -> Gen.const(""), 1 -> Gen.oneOf("\n", "\u0085", "\u2028", "\r\n", " "))
  } yield shape.head + shape.tail.zip(seps).map { case (t, s) => s + t }.mkString + end
  private val cellGen: Gen[String] = Gen.frequency(
    1 -> Gen.oneOf(corpusCells),
    3 -> shapeGen,
    6 -> (for {
      n <- Gen.chooseNum(1, 6)
      pieces <- Gen.listOfN(n, pieceGen)
      seps <- Gen.listOfN(n + 1, sepGen)
      edges <- Gen.chooseNum(0, 3)
    } yield {
      val body = pieces.zip(seps.tail).map { case (p, s) => p + s }.mkString
      (if ((edges & 1) != 0) seps.head else "") + (if ((edges & 2) != 0) body else body.trim)
    }))

  test("the \\s, \\w and \\d predicates match the regex classes on every code point") {
    val s = Py.re("\\s"); val w = Py.re("\\w"); val d = Py.re("\\d")
    var cp = 0
    while (cp <= Character.MAX_CODE_POINT) {
      val str = new String(Character.toChars(cp))
      if (cp < 0x10000) assert(Py.isUniWs(cp.toChar) == s.matcher(str).matches(), f"\\s U+$cp%04X")
      else assert(!s.matcher(str).matches(), f"\\s U+$cp%04X")
      assert(Py.isUniWord(cp) == w.matcher(str).matches(), f"\\w U+$cp%04X")
      assert(Py.isUniDigitAt(str, 0) == d.matcher(str).matches(), f"\\d U+$cp%04X")
      cp += 1
    }
  }

  test("cleanTableCellText and cleanHeaderText match the oracle") {
    check(Prop.forAll(cellGen) { s =>
      same("cleanTableCellText", CellClean.cleanTableCellText(s), OracleCellClean.cleanTableCellText(s), s) &&
        same("cleanHeaderText", CellClean.cleanHeaderText(s), OracleCellClean.cleanHeaderText(s), s)
    })
  }

  test("each step of the cell chain matches the oracle") {
    check(Prop.forAll(cellGen) { s =>
      same("compactNumberSpacing", CellClean.compactNumberSpacing(s), OracleCellClean.compactNumberSpacing(s), s) &&
        same("normalizeCurrencySuffix", CellClean.normalizeCurrencySuffix(s),
          OracleCellClean.normalizeCurrencySuffix(s), s) &&
        same("fixMissingCurrencyLetter", CellClean.fixMissingCurrencyLetter(s),
          OracleCellClean.fixMissingCurrencyLetter(s), s) &&
        same("stripCurrencyTrailingShortToken", CellClean.stripCurrencyTrailingShortToken(s),
          OracleCellClean.stripCurrencyTrailingShortToken(s), s) &&
        same("dedupeDatesInCell", CellClean.dedupeDatesInCell(s), OracleCellClean.dedupeDatesInCell(s), s) &&
        same("stripTrailingCurrencyFragment", CellClean.stripTrailingCurrencyFragment(s),
          OracleCellClean.stripTrailingCurrencyFragment(s), s) &&
        same("stripCurrencyPrefixDup", CellClean.stripCurrencyPrefixDup(s),
          OracleCellClean.stripCurrencyPrefixDup(s), s) &&
        same("stripDuplicateCurrencySuffix", CellClean.stripDuplicateCurrencySuffix(s),
          OracleCellClean.stripDuplicateCurrencySuffix(s), s) &&
        same("dedupeRepeatedCurrencyValue", CellClean.dedupeRepeatedCurrencyValue(s),
          OracleCellClean.dedupeRepeatedCurrencyValue(s), s) &&
        same("digitsOnly", Numbers.digitsOnly(s), OracleCellClean.digitsOnly(s), s) &&
        same("firstCurrencyToken", CellClean.firstCurrencyToken(s),
          Py.search(CellClean.CurrencyToken, s).map(_.group(1)).orNull, s)
    })
  }

  // ---- tables and documents ----------------------------------------------

  private def canonT(t: TableData) = (t.numRows, t.numCols, t.cells.toSeq)
  private def canon(d: Doc) = (d.url, d.pages.toSeq, d.items.toSeq.map(i =>
    (i.idx, i.kind, i.label, i.contentLayer, i.pageNo, i.bbox, i.text, i.table.map(canonT),
      i.parentIdx, i.kv.map(_.toSeq))))

  private val textOrNull: Gen[String] =
    Gen.frequency(12 -> cellGen, 1 -> Gen.const(null), 1 -> Gen.const(""), 1 -> Gen.const("  "))
  private val bboxGen: Gen[Bbox] = for {
    l <- Gen.chooseNum(0, 300); t <- Gen.chooseNum(0, 300)
    w <- Gen.chooseNum(-10, 200); h <- Gen.chooseNum(-10, 200)
    o <- Gen.oneOf(Bbox.TopLeft, Bbox.BottomLeft)
  } yield Bbox(l, t, l + w, t + h, o)
  private def cell(r0: Int, r1: Int, c0: Int, c1: Int, text: String, bbox: Option[Bbox]) =
    TableCell(r0, r1, c0, c1, r1 - r0, c1 - c0, text, columnHeader = r0 == 0,
      rowHeader = c0 == 0, rowSection = false, fillable = false, bbox = bbox)

  /** A header row that tiles the columns in groups (or, at random, starts
    * at column 1 and tiles nothing), data cells of width 1 or 2 with
    * currency-heavy texts. */
  private val tableGen: Gen[TableData] = for {
    groups <- Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, Gen.frequency(3 -> 1, 2 -> 2, 1 -> 3)))
    tiled <- Gen.frequency(6 -> true, 1 -> false)
    rows <- Gen.chooseNum(1, 5)
    header <- Gen.sequence[List[TableCell], TableCell](
      groups.zip(groups.scanLeft(0)(_ + _)).map { case (g, c0) =>
        for (t <- textOrNull; b <- Gen.option(bboxGen)) yield cell(0, 1, c0, c0 + g, t, b)
      })
    data <- Gen.sequence[List[TableCell], TableCell](
      for (r <- (1 until rows).toList; c <- (0 until groups.sum).toList) yield for {
        t <- Gen.frequency(3 -> textOrNull, 2 -> Gen.oneOf("RON", "EUR", "RON 158.065.856",
          "EUR 4.979.082", "12.345 EUR", "RON RON", "EURO", "xEUR 5"))
        b <- Gen.option(bboxGen)
        wide <- Gen.frequency(5 -> false, 1 -> true)
      } yield cell(r, r + 1, c, if (wide && c + 1 < groups.sum) c + 2 else c + 1, t, b))
  } yield TableData(rows, groups.sum, ((if (tiled) header else header.drop(1)) ++ data).toArray)

  test("table passes match the oracle: collapse, currency columns, headers, cells") {
    check(Prop.forAll(tableGen) { t =>
      val (nt, n) = DocTransforms.normalizeTableCurrencyColumns(t)
      val (ot, on) = OracleDocTransforms.normalizeTableCurrencyColumns(t)
      val doc = Doc("u", Array(DocItem(0, ItemKind.Table, Label.Table, ContentLayer.Body, 1, None,
        "", Some(t))), Array(PageDim(1, 600, 800)))
      def docPass(f: Doc => (Doc, Int), g: Doc => (Doc, Int), name: String) = {
        val (d1, c1) = f(doc); val (d2, c2) = g(doc)
        same(name, (canon(d1), c1), (canon(d2), c2), canonT(t))
      }
      same("collapseTableHeaderGroups", DocTransforms.collapseTableHeaderGroups(t).map(canonT),
        OracleDocTransforms.collapseTableHeaderGroups(t).map(canonT), canonT(t)) &&
        same("normalizeTableCurrencyColumns", (canonT(nt), n), (canonT(ot), on), canonT(t)) &&
        docPass(DocTransforms.normalizeDocTableHeaders, OracleDocTransforms.normalizeDocTableHeaders,
          "normalizeDocTableHeaders") &&
        docPass(DocTransforms.cleanDocTableCells, OracleDocTransforms.cleanDocTableCells,
          "cleanDocTableCells")
    })
  }

  test("countSuspectTableCells' digit prefilter is exact") {
    // the count without the prefilter: every non-empty cell through the
    // clean chain (table_fixes.py:681-692)
    def unfiltered(d: Doc): Int = d.items.flatMap(_.table).flatMap(_.cells).count { c =>
      c.text != null && c.text.nonEmpty &&
        CellClean.isSuspectCurrencyCell(CellClean.cleanTableCellText(c.text))
    }
    val suspectGen: Gen[String] = Gen.frequency(6 -> textOrNull,
      1 -> Gen.oneOf("EUR .961.31", "RON 71.371", "RON .1", "EUR \uD835\uDFCF.22"))
    check(Prop.forAll(Gen.listOf(suspectGen)) { texts =>
      val t = TableData(1, texts.length, texts.zipWithIndex.map { case (x, c) =>
        cell(0, 1, c, c + 1, x, None) }.toArray)
      val doc = Doc("u", Array(DocItem(0, ItemKind.Table, Label.Table, ContentLayer.Body, 1, None,
        "", Some(t))), Array(PageDim(1, 600, 800)))
      same("countSuspectTableCells", DocTransforms.countSuspectTableCells(doc), unfiltered(doc), texts)
    })
  }

  test("currency columns fail like the oracle on a voting cell outside the columns") {
    for (text <- Seq("RON 5", "x", null)) {
      val t = TableData(2, 2, Array(cell(1, 2, 3, 4, text, None)))
      val thrown = Seq[TableData => Any](DocTransforms.normalizeTableCurrencyColumns,
        OracleDocTransforms.normalizeTableCurrencyColumns).map { f =>
        intercept[ArrayIndexOutOfBoundsException](f(t)).getMessage
      }
      assert(thrown.distinct.size == 1, thrown)
    }
  }

  // text items and picture texts with mojibake whose CP1252/Latin-1 round
  // trip succeeds, meets an unmappable char (Ș, Ā, ›, €) or decodes to
  // malformed UTF-8 (a lone Ã)
  private val mojibakeGen: Gen[String] = Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, Gen.frequency(
    3 -> Gen.oneOf("Subven", "ii pentru", " ", "profit", "RON 12%", "x"),
    4 -> Gen.oneOf("Äƒ", "È™", "È›", "Ã¢", "Ã®", "Ã©", "Ä‚", "â€™", "â€”"),
    2 -> Gen.oneOf("Ș", "ț", "Ā", "€", "›", "Ã", "Ãƒ", "\u0081", "�", "é", "ß", "ﬁ")))).map(_.mkString)
  private val pictureTexts = Seq(
    "31.12.2024", " 30.09.2025 ", "31/12/2024", "1.2.2024", "20 40 60 mil. RON", "Q1 Q2 Q3 2025",
    "0 20 40 60 80", "74% 9L 2025", "Evolutia indicatorului", "2024", "x",
    "CIFRA DE AFACERI\nNETA ANUALA\nRON\n158,06 MIL.\n(EUR 31,08 MIL.)\n+24,66%\nvs\n9L 2024",
    "PROFIT NET RON 42,92 MIL. +103,61%", "Profitul net 12,5 mil. RON", "")
  private val itemGen: Gen[(String, String, Int, Option[Bbox], String)] = for {
    kind <- Gen.frequency(5 -> ItemKind.Text, 3 -> ItemKind.Picture, 1 -> ItemKind.Table)
    label <- Gen.frequency(6 -> Label.Text, 1 -> Label.Caption, 1 -> Label.SectionHeader)
    page <- Gen.chooseNum(0, 3)
    bbox <- Gen.frequency(3 -> Gen.some(bboxGen), 1 -> Gen.const(None))
    text <- Gen.frequency(4 -> Gen.oneOf(pictureTexts), 1 -> cellGen, 1 -> mojibakeGen,
      1 -> Gen.const(null))
  } yield (kind, label, page, bbox, text)
  private val docGen: Gen[Doc] = for {
    n <- Gen.chooseNum(0, 14)
    items <- Gen.listOfN(n, itemGen)
    heights <- Gen.someOf(Seq(1, 2, 3))
  } yield Doc("u", items.zipWithIndex.map { case ((k, l, p, b, t), i) =>
    DocItem(i, k, if (k == ItemKind.Picture) Label.Picture else l, ContentLayer.Body, p, b, t,
      if (k == ItemKind.Table) Some(TableData(1, 1, Array(cell(0, 1, 0, 1, t, None)))) else None)
  }.toArray, heights.toArray.map(p => PageDim(p, 600, 800)))

  // a KPI picture whose normalized caption, in some case, occurs in a table
  // cell, in a text item or in a furniture item, or only across two items
  // that the plain text joins by '\n' (then it is not in the text)
  private val kpiTexts = Seq("PROFIT NET RON 42,92 MIL. +103,61%",
    "CIFRA DE AFACERI\nNETA ANUALA\nRON\n158,06 MIL.\n(EUR 31,08 MIL.)\n+24,66%\nvs\n9L 2024",
    "Profitul net 12,5 mil. RON", "EBITDA ΟΔΟΣ 12,5%", "Marja İSTANBUL 15%",
    "Venituri  30 mil. ron", "SubvenÈ›ii pentru investiÈ›ii 12%", "Rezultatul ﬁnal 7 EUR")
  private val kpiDocGen: Gen[Doc] = for {
    base <- docGen
    raw <- Gen.oneOf(kpiTexts)
    where <- Gen.oneOf("cell", "item", "furniture", "split", "none")
    casing <- Gen.oneOf(0, 1, 2)
    around <- Gen.oneOf(("", ""), ("Total: ", ""), ("", " (2024)"), ("x", "y"))
    page <- Gen.chooseNum(0, 3)
    box <- bboxGen
    captioned <- Gen.frequency(4 -> false, 1 -> true)
    at <- Gen.chooseNum(0, base.items.length)
    dup <- Gen.frequency(4 -> false, 1 -> true)
  } yield {
    val cap = KpiAxis.normalizeKpiCaption(
      TextNormalize.normalizeLigatures(TextNormalize.normalizeMojibakeText(raw)))
    val shown = casing match {
      case 0 => cap
      case 1 => cap.toUpperCase(java.util.Locale.ROOT)
      case _ => cap.toLowerCase(java.util.Locale.ROOT)
    }
    def text(t: String, layer: String = ContentLayer.Body) =
      DocItem(0, ItemKind.Text, Label.Text, layer, page, None, t, None)
    val holders: Seq[DocItem] = where match {
      case "cell" => Seq(DocItem(0, ItemKind.Table, Label.Table, ContentLayer.Body, page, None, "",
        Some(TableData(1, 2, Array(cell(0, 1, 0, 1, "a", None),
          cell(0, 1, 1, 2, around._1 + shown + around._2, None))))))
      case "item" => Seq(text(around._1 + shown + around._2))
      case "furniture" => Seq(text(shown, ContentLayer.Furniture))
      case "split" =>
        val cut = math.max(shown.indexOf(' '), 1)
        Seq(text(shown.substring(0, cut)), text(shown.substring(cut).strip()))
      case _ => Seq.empty
    }
    val picture = DocItem(0, ItemKind.Picture, Label.Picture, ContentLayer.Body, page, Some(box), raw, None)
    val added = Seq(picture) ++ (if (captioned) Seq(text("Sursa: raport").copy(label = Label.Caption))
      else Seq.empty) ++ (if (dup) Seq(picture.copy(text = pictureTexts.head)) else Seq.empty)
    val items = base.items.take(at) ++ added ++ base.items.drop(at) ++ holders
    base.copy(items = items.zipWithIndex.map { case (i, k) => i.copy(idx = k) })
  }

  test("picture passes and the KPI caption pass match the oracle") {
    var captioned, declined = 0
    check(Prop.forAll(Gen.frequency(2 -> docGen, 1 -> kpiDocGen)) { d =>
      val added = OracleDocTransforms.addPictureKpiCaptionsFromItems(d)._2
      if (added > 0) captioned += 1
      else if (d.items.exists(i => i.kind == ItemKind.Picture && kpiTexts.contains(i.text))) declined += 1
      def pass(name: String, f: Doc => (Doc, Int), g: Doc => (Doc, Int)) = {
        val (d1, c1) = f(d); val (d2, c2) = g(d)
        same(name, (canon(d1), c1), (canon(d2), c2), canon(d))
      }
      pass("removeDateOnlyTextInsidePictures", DocTransforms.removeDateOnlyTextInsidePictures(_),
        OracleDocTransforms.removeDateOnlyTextInsidePictures(_)) &&
        pass("removeAxisTextInsidePictures", DocTransforms.removeAxisTextInsidePictures(_),
          OracleDocTransforms.removeAxisTextInsidePictures(_)) &&
        pass("addPictureKpiCaptionsFromItems", SpacingFix.addPictureKpiCaptionsFromItems(_),
          OracleDocTransforms.addPictureKpiCaptionsFromItems(_)) &&
        pass("normalizeDocTextWhitespace", DocTransforms.normalizeDocTextWhitespace,
          OracleDocTransforms.normalizeDocTextWhitespace) &&
        pass("collapseDocTableGroups", DocTransforms.collapseDocTableGroups,
          OracleDocTransforms.collapseDocTableGroups) &&
        pass("normalizeDocTableCurrencies", DocTransforms.normalizeDocTableCurrencies,
          OracleDocTransforms.normalizeDocTableCurrencies)
    })
    // both sides of the caption pass's text lookup are exercised
    assert(captioned > Cases / 20 && declined > Cases / 50, s"captioned $captioned, declined $declined")
  }

  test("normalizeTextWhitespace matches its two regexes run unguarded") {
    val multiSpaceBetween = Py.re("(?<=\\S)[ \\t]{2,}(?=\\S)")
    val trailingRatio = Py.re("\\b([A-Z])\\s+([A-Z])\\b$")
    val ratioGen: Gen[String] = for {
      lead <- Gen.frequency(3 -> cellGen, 1 -> Gen.oneOf("", "Gradul de indatorare", "x_", "é", "e\u0301",
        "\uD835\uDC00", "\u00A0", "a\t\tb", "a \u00A0 b", "\n", "x  "))
      a <- Gen.oneOf("A", "B", "a", "É", "1", "_")
      ws <- Gen.frequency(4 -> sepGen, 1 -> Gen.const(" \t "))
      b <- Gen.oneOf("B", "Z", "b", "Ü", "2")
      end <- Gen.frequency(6 -> Gen.const(""), 1 -> Gen.oneOf("\n", "\r\n", "\r", "\u0085", "\u2028", " "))
    } yield lead + Gen.oneOf(" ", "", "\u00A0").sample.getOrElse(" ") + a + ws + b + end
    check(Prop.forAll(Gen.frequency(1 -> cellGen, 2 -> ratioGen)) { s =>
      same("normalizeTextWhitespace", Whitespace.normalizeTextWhitespace(s),
        Py.sub(trailingRatio, "$1/$2", Py.sub(multiSpaceBetween, " ", s)), s)
    })
  }

  test("normalizeKpiCaption matches its regex chain run unguarded") {
    def unguarded(text: String): String = {
      val lines = Py.splitLines(text).map(_.strip()).filter(_.nonEmpty)
      if (lines.isEmpty) return ""
      var joined = lines.mkString(" ")
      joined = Py.sub(Py.re("\\s+"), " ", joined).strip()
      joined = Py.sub(Py.re("\\s+([,.;:%])"), "$1", joined)
      joined = Py.sub(Py.re("\\(\\s+"), "(", joined)
      joined = Py.sub(Py.re("\\s+\\)"), ")", joined)
      Py.sub(Py.reI("(\\b\\d[\\d.,]*\\s*mil\\.?)\\s+ron\\b"), "RON $1", joined)
    }
    val captionGen: Gen[String] = Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, Gen.frequency(
      4 -> Gen.oneOf(kpiTexts), 3 -> Gen.oneOf("(", ")", ",", ".", ";", ":", "%", "( ", " )", " ,", "12 mil",
        "12,5 MIL.", "ron", "Ron", "RONx", "rOn", "\u0280on", "mil.", "\n"),
      2 -> sepGen, 2 -> cellGen))).map(_.mkString)
    check(Prop.forAll(captionGen) { s =>
      same("normalizeKpiCaption", KpiAxis.normalizeKpiCaption(s), unguarded(s), s)
    })
  }

  test("applyAll matches the oracle chain on SyntheticPages documents") {
    for (i <- 0L until 300L) {
      val d = graft.sources.SyntheticPages.dirtyDoc(1234L, i)
      val (d1, c1) = DocTransforms.applyAll(d)
      val (d2, c2) = OracleDocTransforms.applyAll(d)
      assert(canon(d1) == canon(d2) && c1 == c2, s"doc $i")
    }
  }

  // items of every export kind and label, some of them chart text joined
  // under a picture, on pages that come and go out of order
  private val renderDocGen: Gen[Doc] = for {
    base <- Gen.frequency(2 -> docGen, 1 -> kpiDocGen)
    labels <- Gen.listOfN(base.items.length, Gen.frequency(4 -> Label.Text, 1 -> Label.Title,
      1 -> Label.SectionHeader, 1 -> Label.ListItem, 1 -> Label.PageHeader, 1 -> Label.Footnote))
    parents <- Gen.listOfN(base.items.length, Gen.frequency(3 -> -1, 1 -> 0, 1 -> 1))
    layers <- Gen.listOfN(base.items.length, Gen.frequency(8 -> ContentLayer.Body,
      1 -> ContentLayer.Furniture))
    kv <- Gen.frequency(3 -> Gen.const(Seq.empty[DocItem]), 1 -> (for {
      n <- Gen.chooseNum(0, 3)
      pairs <- Gen.listOfN(n, for (k <- Gen.oneOf("", "Cod_fiscal", "CUI"); v <- Gen.oneOf("", "RO_1", "12"))
        yield KvPair(k, v))
      page <- Gen.chooseNum(0, 3)
    } yield Seq(DocItem(0, ItemKind.KeyValue, Label.KeyValueRegion, ContentLayer.Body, page, None, "",
      None, kv = Some(pairs.toArray)))))
    table <- Gen.frequency(2 -> Gen.const(Seq.empty[DocItem]), 1 -> (for {
      t <- tableGen; page <- Gen.chooseNum(0, 3)
    } yield Seq(DocItem(0, ItemKind.Table, Label.Table, ContentLayer.Body, page, None, "", Some(t)))))
    empty <- Gen.frequency(6 -> Gen.const(Seq.empty[DocItem]), 1 -> Gen.const(Seq(DocItem(0,
      ItemKind.Table, Label.Table, ContentLayer.Body, 1, None, "", Some(TableData(0, 2, Array.empty))))))
    pages <- Gen.oneOf(Seq.empty[Int], Seq(1, 2), Seq(2, 1), Seq(0, 3))
  } yield {
    val relabeled = base.items.zip(labels).zip(parents).zip(layers).map { case (((i, l), p), c) =>
      val label = if (i.kind == ItemKind.Text) l else i.label
      i.copy(label = label, parentIdx = p, contentLayer = c)
    }
    val items = (relabeled ++ kv ++ table ++ empty).zipWithIndex.map { case (i, k) => i.copy(idx = k) }
    Doc("u", items, pages.map(p => PageDim(p, 600, 800)).toArray)
  }

  test("render, renderTable, renderPlainText and the page-1 probe match the oracle") {
    check(Prop.forAll(renderDocGen) { d =>
      same("render", MarkdownRender.render(d), OracleMarkdownRender.render(d), canon(d)) &&
        same("render(referenced)", MarkdownRender.render(d, MarkdownRender.ImageMode.Referenced),
          OracleMarkdownRender.render(d, MarkdownRender.ImageMode.Referenced), canon(d)) &&
        same("renderPlainText", MarkdownRender.renderPlainText(d),
          OracleMarkdownRender.renderPlainText(d), canon(d)) &&
        same("probePage1Score", SpacingFix.probePage1Score(d),
          OracleMarkdownRender.probePage1Score(d), canon(d))
    })
    check(Prop.forAll(tableGen) { t =>
      same("renderTable", MarkdownRender.renderTable(t), OracleMarkdownRender.renderTable(t), canonT(t))
    })
    for (i <- 0L until 200L) {
      val d = graft.sources.SyntheticPages.dirtyDoc(4321L, i)
      assert(MarkdownRender.render(d) == OracleMarkdownRender.render(d) &&
        SpacingFix.probePage1Score(d) == OracleMarkdownRender.probePage1Score(d), s"doc $i")
    }
  }

  // ---- markdown -----------------------------------------------------------

  private val headingTexts = Seq("Analiza rezultatelor financiare", "Profit din exploatare",
    "Perspective si riscuri", "ANALIZA  rezultatelor financiare")
  private val lineGen: Gen[String] = Gen.frequency(
    4 -> (for (lvl <- Gen.chooseNum(1, 7); h <- Gen.oneOf(headingTexts); sp <- Gen.oneOf(" ", "  ", "\t", ""))
      yield "#" * lvl + sp + h),
    2 -> Gen.oneOf("<!-- page: 3 -->", "<!--page:12-->", "[//]: # (page: 2)", "**[Page 4]**",
      "** [page: 5] **", "**bold** text", "***", "**", "** **", "****[Page 2]**", "**[Page]**",
      "** [page 3]", "**[Page 4]** tail", "x **[Page 6]**"),
    2 -> Gen.oneOf("<!-- image -->", "  <!-- image -->  ", " <!-- image -->", "\u00A0<!-- image -->", "<!--image-->x",
      "\u2028<!-- image -->", "<!-- image -->\u00A0", "\u0085<!-- image -->\u2029", "\u202F<!--\u00A0image-->"),
    // non-ASCII first letters, NBSP and U+2028 ahead of text, headings and markers
    2 -> Gen.oneOf("Ședința consiliului 2024", "Țintele pentru 2025", "Î 5 RON", "ÎNDATORARE NETĂ",
      "\u00A0Ședința", "\u00A0# Profit din exploatare", "\u2028Text după separator",
      "\u2028## Perspective si riscuri", "\u00A012 24 36", "Ș", "É 12%"),
    3 -> Gen.oneOf("CIFRA DE AFACERI", "ACTIVE CIRCULANTE", "PROFIT NET", "# CIFRA", "A B C D E F",
      "RON 158,06 MIL. (EUR 31,08 MIL.)", "+24,66% vs 9L 2024", "vs", "3 RON", "mil 5"),
    3 -> Gen.oneOf("0 20 40 60 80", "Q1 Q2 Q3 2025", "74% 9L 2025", "31.12.2024", "2024",
      "12.5% x y", "1 2 3 4 5 6 7", "| 1 | 2 |", "|---|---|", "a1",
      "0 20 40 60 80 100 120 140 160 180 200 220 240 260", "2021 2022 2023 2024 2025"),
    4 -> Gen.oneOf("Compania a inregistrat rezultate solide.", "Gradul de indatorare ramane stabil",
      "Structura Costurilor Operationale Noi", "lower case words here", "Ce urmeaza?"),
    3 -> (for (n <- Gen.chooseNum(0, 3); w <- Gen.listOfN(n, Gen.oneOf(wsChars))) yield w.mkString),
    2 -> (for (l <- cellGen; a <- sepGen; b <- sepGen) yield a + l + b))
  private val fullPageGen: Gen[String] = for {
    lead <- Gen.frequency(3 -> Gen.oneOf(headingTexts).map("## " + _), 1 -> lineGen)
    n <- Gen.chooseNum(0, 8)
    lines <- Gen.listOfN(n, lineGen)
    joins <- Gen.listOfN(n, Gen.frequency(4 -> "\n", 3 -> "\n\n", 1 -> "\n\n\n", 1 -> "\n \n"))
    tail <- Gen.frequency(4 -> Gen.const(""), 1 -> Gen.oneOf("\n", "\n\n", " ", "\u0085", "\u2028", "\u00A0",
      " \u0085", "\r\n"))
  } yield lead + lines.zip(joins).map { case (l, j) => j + l }.mkString + tail
  // now and then a page that is empty, blank or holds only a marker
  private val pageGen: Gen[String] = Gen.frequency(8 -> fullPageGen,
    1 -> Gen.oneOf("", " ", "\n", "\n\n", "**[Page 7]**", "<!-- page: 1 -->", "\n\n**[Page 2]**\n\n",
      "[//]: # (page: 4)\n", "<!-- image -->"))
  private val markdownGen: Gen[String] = for {
    pages <- Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, pageGen))
    join <- Gen.frequency(4 -> Gen.const(s"\n\n${MarkdownPost.PageBreakPlaceholder}\n\n"),
      1 -> Gen.const(MarkdownPost.PageBreakPlaceholder), 1 -> Gen.const("\n\n"))
    // a placeholder as the very first or the very last text
    lead <- Gen.frequency(6 -> Gen.const(""), 1 -> Gen.oneOf(MarkdownPost.PageBreakPlaceholder,
      MarkdownPost.PageBreakPlaceholder + "\n\n", "\n" + MarkdownPost.PageBreakPlaceholder))
    tail <- Gen.frequency(6 -> Gen.const(""), 1 -> Gen.oneOf(MarkdownPost.PageBreakPlaceholder,
      "\n\n" + MarkdownPost.PageBreakPlaceholder, MarkdownPost.PageBreakPlaceholder + "\n"))
  } yield lead + pages.mkString(join) + tail

  test("each markdown post pass matches the oracle") {
    check(Prop.forAll(markdownGen) { md =>
      same("addVisiblePageMarkers", MarkdownPost.addVisiblePageMarkers(md),
        OracleMarkdownPost.addVisiblePageMarkers(md), md) &&
        same("reduceMarkdownNoise", MarkdownPost.reduceMarkdownNoise(md),
          OracleMarkdownPost.reduceMarkdownNoise(md), md) &&
        same("reduceMarkdownNoise(images)", MarkdownPost.reduceMarkdownNoise(md, removeImagePlaceholders = true),
          OracleMarkdownPost.reduceMarkdownNoise(md, removeImagePlaceholders = true), md) &&
        same("normalizeKpiBlocks", MarkdownPost.normalizeKpiBlocks(md),
          OracleMarkdownPost.normalizeKpiBlocks(md), md) &&
        same("removeOrphanHeadings", MarkdownPost.removeOrphanHeadings(md),
          OracleMarkdownPost.removeOrphanHeadings(md), md) &&
        same("removeAxisLikeLines", MarkdownPost.removeAxisLikeLines(md),
          OracleMarkdownPost.removeAxisLikeLines(md), md)
    })
  }

  test("the post chain in pipeline order matches the oracle chain") {
    def chain(md: String, markers: String => String, noise: String => String,
              kpi: String => String, orphan: String => String, axis: String => String) =
      axis(orphan(kpi(noise(markers(md)))))
    check(Prop.forAll(markdownGen) { md =>
      same("post chain",
        chain(md, MarkdownPost.addVisiblePageMarkers(_),
          MarkdownPost.reduceMarkdownNoise(_, removeImagePlaceholders = true),
          MarkdownPost.normalizeKpiBlocks(_), MarkdownPost.removeOrphanHeadings(_),
          MarkdownPost.removeAxisLikeLines(_)),
        chain(md, OracleMarkdownPost.addVisiblePageMarkers(_),
          OracleMarkdownPost.reduceMarkdownNoise(_, removeImagePlaceholders = true),
          OracleMarkdownPost.normalizeKpiBlocks(_), OracleMarkdownPost.removeOrphanHeadings(_),
          OracleMarkdownPost.removeAxisLikeLines(_)), md)
    })
  }

  test("line predicates match the oracle") {
    check(Prop.forAll(Gen.frequency(3 -> lineGen, 1 -> cellGen)) { s =>
      same("isKpiLabel", MarkdownPost.isKpiLabel(s), OracleMarkdownPost.isKpiLabel(s), s) &&
        same("isKpiValue", MarkdownPost.isKpiValue(s), OracleMarkdownPost.isKpiValue(s), s) &&
        same("isAxisLikeLine", MarkdownPost.isAxisLikeLine(s), OracleMarkdownPost.isAxisLikeLine(s), s) &&
        same("isHeadingLikeLine", MarkdownPost.isHeadingLikeLine(s),
          OracleMarkdownPost.isHeadingLikeLine(s), s)
    })
  }

  // axis-alphabet lines: tick numbers, years, quarter and unit tokens joined
  // by the separators the allowed class admits, now and then a character
  // outside that class or a digit outside [0-9]
  private val axisTokenGen: Gen[String] = Gen.frequency(
    6 -> numberGen,
    4 -> Gen.oneOf("2024", "2025", "1899", "Q1", "Q4", "Q5", "9L", "L9", "mil", "mil.", "MIL",
      "RON", "eur", "USD", "LEI", "%", "12%", "x", "ab", "profit", "mii"),
    1 -> Gen.oneOf("|", "é", "\u00A0", "#", ":", "(", "_"),
    1 -> digitGen)
  private val axisLineGen: Gen[String] = for {
    n <- Gen.chooseNum(0, 8)
    toks <- Gen.listOfN(n, axisTokenGen)
    seps <- Gen.listOfN(n, Gen.frequency(8 -> Gen.const(" "), 2 -> sepGen,
      1 -> Gen.oneOf(".", "/", "-", "+")))
  } yield toks.zip(seps).map { case (t, sep) => sep + t }.mkString

  test("the picture-axis predicate matches the frozen KpiAxis.axisLike") {
    var axisLike = 0
    check(Prop.forAll(Gen.frequency(4 -> axisLineGen, 1 -> lineGen)) { s =>
      val got = MarkdownPost.isAxisLikeLine(s)
      if (got) axisLike += 1
      same("axisLike", got, OracleKpiAxis.axisLike(s), s)
    })
    assert(axisLike > Cases / 10, s"only $axisLike axis-like lines generated")
  }
}
