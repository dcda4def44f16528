package graft.textkit

import org.scalatest.funsuite.AnyFunSuite

/** AAA unit tests transcribed from the reference test suite
  * (tests/unit of /root/reference, via FIXTURES.md). One behavior per test. */
class PredicatesSpec extends AnyFunSuite {
  import Predicates._

  test("is_multi_space_text: double space") { assert(isMultiSpaceText("foo  bar")) }
  test("needs_spacing_fix: double space alone is not spacing damage") {
    assert(!needsSpacingFix("foo  bar"))
  }
  test("is_spaced_text: normal sentence false") {
    assert(!isSpacedText("Group a inregistrat rezultate"))
  }
  test("is_spaced_text: split word true") { assert(isSpacedText("finan c iar")) }
  test("is_spaced_text: date-like false") { assert(!isSpacedText("la 1 martie")) }
  test("needs_table_spacing_fix: SOLD C exemption") { assert(!needsTableSpacingFix("Sold C")) }
  test("is_spaced_text: quarter label false") { assert(!isSpacedText("T1 2025 rezultate")) }
  test("is_spaced_text: romanian common letters false") {
    assert(!isSpacedText("Într-o a doua etapă"))
  }
  test("is_spaced_text: flagship spaced romanian phrase") {
    assert(isSpacedText("Vi t e z a de ro t a ț ie a a ct i v e l or"))
  }
}

class NumbersSpec extends AnyFunSuite {
  import Numbers._

  test("normalize_number: comma decimal") { assert(normalizeNumber("1,5") == "1.5") }
  test("normalize_number: dotted grouping with comma decimal") {
    assert(normalizeNumber("158.065.856") == "158.065.856")
  }
  test("normalize_number: mixed grouping comma-last") {
    assert(normalizeNumber("1.234,5") == "1234.5")
  }
  test("normalize_number: mixed grouping dot-last") {
    assert(normalizeNumber("1,234.5") == "1234.5")
  }
  test("normalize_number: percent preserved") { assert(normalizeNumber("24,66%") == "24.66%") }
  test("extract_numbers finds grouped numbers") {
    assert(extractNumbers("RON 158.065.856 si 24,66%") == Set("158.065.856", "24.66%"))
  }
  test("extract_dates") {
    assert(extractDates("la 30/09/2025 vs 31.12.2024") == Set("30/09/2025", "31.12.2024"))
  }
  test("coverage: empty reference is 1.0") { assert(coverage(Nil, Set("x")) == 1.0) }
}

class CellCleanSpec extends AnyFunSuite {
  import CellClean._

  val pairs: Seq[(String, String)] = Seq(
    "84 % 84 %" -> "84%",
    "42 42.916.476" -> "42.916.476",
    "1 234.567" -> "1.234.567",
    "ƒ^+%" -> "Δ%",
    "78. RON 78.947.449" -> "RON 78.947.449",
    "15.53 EUR 15.537.472" -> "EUR 15.537.472",
    "16. EUR 16.559.155 R" -> "EUR 16.559.155",
    "RON 418.244.920 N" -> "RON 418.244.920",
    "168.506.901 RON" -> "RON 168.506.901",
    "168.506.901 ON" -> "RON 168.506.901",
    "139.369. 058" -> "139.369.058",
    "153.689.723 RON 153.689.723 RON" -> "RON 153.689.723",
    "16 RON 164.980.067 RON" -> "RON 164.980.067",
    "RON 78.947.449 ON" -> "RON 78.947.449",
    "RON 139.369. 058 RON" -> "RON 139.369.058",
    "126.39 ON 126.397.863 RON" -> "RON 126.397.863",
    "- 45,40%" -> "-45,40%",
    "7 RO 133.339.798 R" -> "RON 133.339.798",
    "EUR ( 420 )" -> "EUR (420)",
    "31/12/20 31/12/2024" -> "31/12/2024",
    "RON 471.371]" -> "RON 471.371",
    "115.784.991 RON 7" -> "RON 115.784.991",
    // CP1252/Latin-1 mojibake round-trip repair (text_normalize.py:16-64)
    "ÃŽnregistrÄƒri contabile" -> "Înregistrări contabile",
    "situaÈ›ii financiare" -> "situații financiare",
    "venituri È™i cheltuieli" -> "venituri și cheltuieli",
    "situa\u00c8\u009bii anuale" -> "situații anuale",
  )
  for ((in, out) <- pairs) {
    test(s"clean_table_cell_text: '$in' -> '$out'") {
      assert(cleanTableCellText(in) == out)
    }
  }

  test("extract_currency_number: supplementary-plane digits count as \\d") {
    // U+1D7CF..U+1D7D1 (MATHEMATICAL BOLD DIGIT ONE..THREE): Python's
    // re.findall(r'\d', ...) matches each one
    val bold = "\uD835\uDFCF\uD835\uDFD0\uD835\uDFD1"
    assert(Py.anyDigit(bold))
    assert(extractCurrencyNumber(s"$bold RON") == Some((Some("RON"), bold)))
    assert(extractCurrencyNumber(s"1$bold RON") == Some((Some("RON"), s"1$bold")))
  }
  test("suspect currency: EUR .961.31 true") { assert(isSuspectCurrencyCell("EUR .961.31")) }
  test("suspect currency: EUR 6.961.310 false") { assert(!isSuspectCurrencyCell("EUR 6.961.310")) }
  test("replace numeric: RON 71.371 -> RON 471.371 true") {
    assert(shouldReplaceNumericCell("RON 71.371", "RON 471.371"))
  }
  test("replace numeric: RON 71.371 -> RON 1.371.000 false") {
    assert(!shouldReplaceNumericCell("RON 71.371", "RON 1.371.000"))
  }
  test("replace numeric: EUR .961.31 -> EUR 6.961.310 true") {
    assert(shouldReplaceNumericCell("EUR .961.31", "EUR 6.961.310"))
  }
  test("replace numeric: .961.31 -> 6.961.310 true") {
    assert(shouldReplaceNumericCell(".961.31", "6.961.310"))
  }

  test("clean_header_text: halved duplicated words") {
    assert(cleanHeaderText("Indicatori Indicatori") == "Indicatori")
  }
  test("clean_header_text: concatenated dates pick full-year date") {
    assert(cleanHeaderText("31.12.202230/09/2024") == "30/09/2024")
  }
  test("clean_header_text: 3130/09/2025") { assert(cleanHeaderText("3130/09/2025") == "30/09/2025") }
  test("clean_header_text: 202231/12/2024") { assert(cleanHeaderText("202231/12/2024") == "31/12/2024") }
  test("clean_header_text: 31.12.230/09/2025") { assert(cleanHeaderText("31.12.230/09/2025") == "30/09/2025") }
  test("clean_header_text: 02131/12/2024") { assert(cleanHeaderText("02131/12/2024") == "31/12/2024") }
}

class TextNormalizeSpec extends AnyFunSuite {
  import TextNormalize._

  test("mojibake: romanian round trip") {
    assert(normalizeMojibakeText("SubvenÈ›ii pentru investiÈ›ii") == "Subvenții pentru investiții")
  }
  test("mojibake: clean text unchanged") {
    assert(normalizeMojibakeText("Analiza rezultatelor financiare") == "Analiza rezultatelor financiare")
  }
  test("ligatures") {
    assert(normalizeLigatures("Proﬁtul și ﬁnanciare") == "Profitul și financiare")
  }
}

class WhitespaceSpec extends AnyFunSuite {
  import Whitespace._

  test("collapse double spaces") { assert(normalizeTextWhitespace("foo  bar") == "foo bar") }
  test("collapse tabs") { assert(normalizeTextWhitespace("foo\t\tbar") == "foo bar") }
  test("leading preserved") { assert(normalizeTextWhitespace("  foo") == "  foo") }
  test("trailing preserved") { assert(normalizeTextWhitespace("foo  ") == "foo  ") }
  test("ratio restore A B -> A/B") {
    assert(normalizeTextWhitespace("Gradul de indatorare A B") == "Gradul de indatorare A/B")
  }
}

class SpacingRepairSpec extends AnyFunSuite {
  import SpacingRepair._

  test("needs_suffix_completion: cheltuiel") { assert(needsSuffixCompletion("cheltuiel")) }
  test("should_replace(table): cheltuiel -> cheltuieli") {
    assert(shouldReplaceText("cheltuiel", "cheltuieli", tableMode = true))
  }
  test("should_replace(table): 11.10. Alte cheltuiel -> +i") {
    assert(shouldReplaceText("11.10. Alte cheltuiel", "11.10. Alte cheltuieli", tableMode = true))
  }
  test("needs_suffix_completion: 11.10. Alte cheltuiel") {
    assert(needsSuffixCompletion("11.10. Alte cheltuiel"))
  }
  test("should_replace(table): flagship spaced phrase") {
    assert(shouldReplaceText("Vi t e z a de ro t a ț ie a a ct i v e l or",
      "Viteza de rotație a activelor", tableMode = true))
  }
  test("median: even count averages middle two") {
    assert(Py.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
  }
  test("2-means gap threshold separates kern vs word gaps") {
    val gaps = List(0.5, 0.6, 0.55, 3.0, 3.2)
    val thr = gapThreshold(gaps, medianCharWidth = 2.0, fallbackRatio = 0.35)
    assert(thr > 0.6 && thr < 3.0)
  }
  test("reconstruct_from_chars: splits on wide gaps only") {
    // "ab cd": a,b adjacent; wide gap; c,d adjacent
    val glyphs = Seq(
      Glyph("a", 0, 0, 1, 2), Glyph("b", 1.05, 0, 2.05, 2),
      Glyph("c", 5, 0, 6, 2), Glyph("d", 6.05, 0, 7.05, 2))
    assert(reconstructFromChars(glyphs) == "ab cd")
  }
  test("reconstruct_from_chars: clusters lines by y-center") {
    val glyphs = Seq(
      Glyph("a", 0, 0, 1, 2), Glyph("b", 1.05, 0, 2.05, 2),
      Glyph("x", 0, 10, 1, 12), Glyph("y", 1.05, 10, 2.05, 12))
    assert(reconstructFromChars(glyphs) == "ab xy")
  }
}

class QualitySpec extends AnyFunSuite {
  import Quality._

  test("clean text scores 100") {
    assert(scoreMarkdown("# Title\n\nA normal paragraph of text.").score == 100)
  }
  test("short lines penalized 5 each") {
    val r = scoreMarkdown("ab c\n\nA normal paragraph of text here.")
    assert(r.shortLineCount == 1 && r.score == 95)
  }
  test("repeated lines penalized 2 each") {
    val line = "repeated content line"
    val r = scoreMarkdown(List(line, line, line, "other text").mkString("\n"))
    assert(r.repeatedLineCount == 1 && r.score == 98)
  }
  test("control chars penalized 1 each") {
    val r = scoreMarkdown("normal text")
    assert(r.controlCharCount == 2 && r.score == 98)
  }
  test("format_report matches the reference CLI line (quality.py:56-63)") {
    assert(formatReport(QualityReport(95, 1, 0, 0)) ==
      "score=95 short_lines=1 repeated_lines=0 control_chars=0")
  }
}

class MarkdownPostSpec extends AnyFunSuite {
  import MarkdownPost._
  val PB = PageBreakPlaceholder

  test("visible page markers: single page") {
    assert(addVisiblePageMarkers("Hello world").contains("**[Page 1]**"))
  }
  test("visible page markers: multi page keeps placeholder") {
    val out = addVisiblePageMarkers(s"page one\n\n$PB\n\npage two")
    assert(out.contains("**[Page 2]**") && out.contains(PB))
  }
  test("visible page markers: strips pre-existing html page markers") {
    val out = addVisiblePageMarkers("<!-- page: 1 -->\nHello")
    assert(!out.contains("<!-- page: 1 -->") && out.contains("**[Page 1]**"))
  }
  test("reduce noise: removes image placeholders when asked") {
    val out = reduceMarkdownNoise("<!-- image -->\ntext", removeImagePlaceholders = true)
    assert(!out.contains("<!-- image -->"))
  }
  test("reduce noise: first heading on 3/3 pages kept once") {
    val page = "## Analiza rezultatelor financiare\n\ncontent"
    val out = reduceMarkdownNoise(List(page, page, page).mkString(s"\n\n$PB\n\n"))
    val count = "## Analiza rezultatelor financiare".r.findAllIn(out).length
    assert(count == 1)
  }
  test("kpi blocks merged into one line") {
    val md = "ACTIVE CIRCULANTE\n\nRON 132,07 MIL. (EUR 25,99 MIL.)\n\n+14,07% vs 31.12.2024"
    val out = normalizeKpiBlocks(md)
    assert(out == "ACTIVE CIRCULANTE RON 132,07 MIL. (EUR 25,99 MIL.) +14,07% vs 31.12.2024")
  }
  test("orphan heading at doc end dropped") {
    val out = removeOrphanHeadings(s"text\n\n## Profit din exploatare")
    assert(!out.contains("## Profit din exploatare"))
  }
  test("orphan heading kept when next page starts with plain text") {
    val md = s"## Profit din exploatare\n\n$PB\n\nvalori detaliate 123 aici."
    val out = removeOrphanHeadings(md)
    assert(out.contains("## Profit din exploatare"))
  }
  test("orphan heading dropped when next page opens with same-level heading") {
    val md = s"text\n\n## Profit din exploatare\n\n$PB\n\n## Alt capitol\n\ncontent"
    val out = removeOrphanHeadings(md)
    assert(!out.contains("## Profit din exploatare"))
  }
  test("axis-like standalone line removed") {
    val out = removeAxisLikeLines("intro text here\n74% 9L 2025\noutro")
    assert(!out.contains("74% 9L 2025"))
  }
  test("axis-like line inside table kept") {
    val out = removeAxisLikeLines("| 74% 9L 2025 |")
    assert(out.contains("74% 9L 2025"))
  }
}

class KpiAxisSpec extends AnyFunSuite {
  import KpiAxis._

  test("kpi text: cifra de afaceri true") { assert(isKpiText("Cifra de afaceri neta 158.065.856 RON")) }
  test("kpi text: profit net true") { assert(isKpiText("Profit net 43.000.000")) }
  test("kpi text: Q&A false") { assert(!isKpiText("Q&A cu CEO")) }
  test("kpi text: chart ticks false") { assert(!isKpiText("Grafic 0 10 20 30 40 50")) }
  test("kpi text: page list false") { assert(!isKpiText("1 2 3 4 5 6 7 8 9 10 11 12 13")) }
  test("axis-like picture text") {
    assert(isAxisLikePicture("20 0 40 60 80 9L 2024 9L 2025 mil. RON"))
  }
  test("normalize kpi caption: multi-line profit block") {
    val in = "PROFIT\nNET\nRON\n42,92 MIL.\n(EUR 8,45 MIL.)\n+103,61%\nvs\n9L 2024"
    assert(normalizeKpiCaption(in) == "PROFIT NET RON 42,92 MIL. (EUR 8,45 MIL.) +103,61% vs 9L 2024")
  }
  test("date_only") { assert(dateOnly("31.12.2024") && !dateOnly("la 31.12.2024")) }
  test("overlap ratio 0.6 threshold geometry") {
    // text (10,10,20,20) fully inside picture (0,0,100,100)
    assert(overlapRatio(10, 10, 20, 20, 0, 0, 100, 100) == 1.0)
    assert(overlapRatio(200, 200, 210, 210, 0, 0, 100, 100) == 0.0)
  }
}
