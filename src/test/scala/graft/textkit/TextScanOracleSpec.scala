package graft.textkit

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** The one-scan markdown scorer and the mojibake scores against their
  * frozen copies (OracleQuality and OracleTextNormalize in
  * TransformOracle.scala) on generated text: whitespace that `strip` does and
  * does not remove, control chars, case pairs whose lower-cased forms differ
  * in length or by context, noise-line prefixes cut short, Latin-1 and
  * C1 chars, Romanian diacritics and real CP1252/Latin-1 mojibake. */
class TextScanOracleSpec extends AnyFunSuite {
  private val Cases = 20000

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(Cases).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  private def show(x: Any): String = String.valueOf(x).flatMap {
    case c if c < ' ' || c > '~' => f"\\u${c.toInt}%04X"
    case c => c.toString
  }

  private def same[A](what: String, got: A, want: A, input: Any): Prop =
    Prop(got == want) :| s"$what(${show(input)}): got ${show(got)}, want ${show(want)}"

  // ---- markdown score -----------------------------------------------------

  private val padGen: Gen[String] = Gen.frequency(6 -> Gen.const(""),
    2 -> Gen.oneOf(" ", "  ", "\t", "\r", "\u000B", "\u001C", " ", "　"),
    1 -> Gen.oneOf(" ", "\u0001", "\u0000", "\u001B", "\u0085", " "))
  private val lineBodyGen: Gen[String] = Gen.frequency(
    4 -> Gen.oneOf("A normal paragraph of text.", "Analiza rezultatelor financiare",
      "ANALIZA REZULTATELOR FINANCIARE", "analiza rezultatelor financiare",
      "Profit net 12,5 mil. RON", "| a | b |", "|---|---|", "ΟΔΟΣ ΟΔΟΣ", "οδος οδοσ",
      "İstanbul İzmir", "i̇stanbul i̇zmir", "ﬁnanciar ﬁnal", "ǅemal ǆemal"),
    3 -> Gen.oneOf("ab c", "x", "12 3", "a b c d e", "ab", "1234", "a1 2", "ț ș", "漢字",
      "😀😀", "a😀", "Σ", "  ", ""),
    2 -> Gen.oneOf("# Heading", "## Sub heading text", "#x", "<!-- image -->",
      "<!-- page break -->", "<!-- image", "<!-- page", "<!-- page br", "<!-- pagebreak",
      "<!--  image -->"),
    1 -> Gen.oneOf("a\u0001b", "\u0002\u0003", "tab\there", "cr\rhere", "nul\u0000x"))
  private val lineGen: Gen[String] = for {
    l <- padGen
    b <- lineBodyGen
    r <- padGen
  } yield l + b + r
  private val markdownGen: Gen[String] = for {
    n <- Gen.chooseNum(0, 14)
    lines <- Gen.listOfN(n, lineGen)
    end <- Gen.oneOf("", "\n", "\n\n", "\r\n")
  } yield lines.mkString("\n") + end

  test("scoreMarkdown matches the frozen copy") {
    check(Prop.forAll(markdownGen) { md =>
      same("scoreMarkdown", Quality.scoreMarkdown(md), OracleQuality.scoreMarkdown(md), md)
    })
  }

  test("scoreMarkdown matches the frozen copy on rendered SyntheticPages") {
    for (i <- 0L until 200L) {
      val doc = graft.sources.SyntheticPages.dirtyDoc(77L, i)
      val md = graft.extract.MarkdownRender.render(doc)
      assert(Quality.scoreMarkdown(md) == OracleQuality.scoreMarkdown(md), s"doc $i")
    }
  }

  // ---- mojibake -----------------------------------------------------------

  private val pieceGen: Gen[String] = Gen.frequency(
    4 -> Gen.oneOf("Analiza", "rezultatelor", " ", "RON", "158.065.856", "x"),
    3 -> Gen.oneOf("ă", "â", "î", "ș", "ț", "Ă", "Â", "Î", "Ș", "Ț", "ş", "ţ", "é", "ü", "ß"),
    // UTF-8 read as CP1252 / Latin-1: ă ș ț â î é and a bad sequence
    3 -> Gen.oneOf("Äƒ", "È™", "È›", "Ã¢", "Ã®", "Ã©", "Ä‚", "Ãƒ", "Ã", "â€™", "â€”"),
    2 -> Gen.choose('\u0080', 'ÿ').map(_.toString),
    1 -> Gen.oneOf("�", "\u0081", "\u008D", "\u008F", "\u0090", "\u009D", "Á",
      "Â", "Î", "â", "î", "¿", "Ā", "Ș", "ț"))
  private val mojibakeTextGen: Gen[String] =
    Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, pieceGen)).map(_.mkString)

  test("mojibakeScore, romanianDiacriticCount and normalizeMojibakeText match the frozen copy") {
    check(Prop.forAll(mojibakeTextGen) { s =>
      same("mojibakeScore", TextNormalize.mojibakeScore(s), OracleTextNormalize.mojibakeScore(s), s) &&
        same("romanianDiacriticCount", TextNormalize.romanianDiacriticCount(s),
          OracleTextNormalize.romanianDiacriticCount(s), s) &&
        same("normalizeMojibakeText", TextNormalize.normalizeMojibakeText(s),
          OracleTextNormalize.normalizeMojibakeText(s), s)
    })
  }

  test("mojibakeScore matches the frozen copy on every char") {
    var c = 0
    while (c <= 0xFFFF) {
      val s = c.toChar.toString
      assert(TextNormalize.mojibakeScore(s) == OracleTextNormalize.mojibakeScore(s), f"U+$c%04X")
      assert(TextNormalize.romanianDiacriticCount(s) ==
        OracleTextNormalize.romanianDiacriticCount(s), f"U+$c%04X")
      c += 1
    }
  }
}
