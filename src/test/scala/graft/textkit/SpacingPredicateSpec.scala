package graft.textkit

import java.util.regex.Pattern
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.extract.{Pipeline, SyntheticPdf}

/** The reference's greedy forms of the three token-run predicates, as
  * `Predicates` wrote them before they became possessive loops. Frozen: the
  * property below holds the live patterns to these. */
object FrozenSpacingPatterns {
  val SpacedText: Pattern = Py.re("(?:\\b\\w\\b\\s+){1,}\\b\\w\\b")
  val SpacedDigit: Pattern = Py.re("(?:\\b\\d\\b\\s+){3,}\\b\\d\\b")
  val ShortAlphaSeq: Pattern = Py.re(
    s"(?:\\b[${Predicates.LetterChars}]{1,2}\\b\\s+){2,}\\b[${Predicates.LetterChars}]{1,2}\\b")
}

class SpacingPredicateSpec extends AnyFunSuite {
  private def check(n: Int)(prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, res.status.toString)
  }

  /** Every `find()` match of `p` in `s`, as (start, end). */
  private def matches(p: Pattern, s: String): List[(Int, Int)] = {
    val m = p.matcher(s)
    val out = List.newBuilder[(Int, Int)]
    while (m.find()) out += ((m.start(), m.end()))
    out.result()
  }

  // one-char tokens dominate, so runs of every length appear; the rest are
  // the characters `\b`, `\w`, `\d` and `\s` treat unevenly under Unicode
  private val token: Gen[String] = Gen.frequency(
    8 -> Gen.oneOf("a", "x", "I", "o", "7", "0", "_", "ș", "Ț", "î", "Ă", "\u00e9", "\u00df",
      "\u0663"),
    3 -> Gen.oneOf("ab", "de", "șt", "12", "x7", "a_", "ÎN", "are"),
    // a combining mark, surrogate pairs (a letter, an emoji), a zero-width space
    2 -> Gen.oneOf("e\u0301", "a\u0308b", "\uD835\uDC00", "\uD83D\uDE00", "x\u200B",
      "\u200Bx"),
    1 -> Gen.oneOf("-", ".", ",", "(", "5.", "word", "financiar"))
  private val separator: Gen[String] = Gen.frequency(
    8 -> Gen.const(" "),
    2 -> Gen.oneOf("  ", "\t", "\n", " \n "),
    // NBSP, U+2028, NEL, ideographic space, zero-width space, thin space
    2 -> Gen.oneOf("\u00A0", "\u2028", "\u0085", "\u3000", "\u200B", "\u2009"),
    1 -> Gen.oneOf("", "-", ". "))
  private val text: Gen[String] = for {
    n <- Gen.chooseNum(0, 40)
    toks <- Gen.listOfN(n, token)
    seps <- Gen.listOfN(n, separator)
  } yield toks.zip(seps).map { case (t, s) => t + s }.mkString

  test("the possessive token-run patterns find exactly what the greedy forms find") {
    val pairs = Seq(
      FrozenSpacingPatterns.SpacedText -> Predicates.SpacedText,
      FrozenSpacingPatterns.SpacedDigit -> Predicates.SpacedDigit,
      FrozenSpacingPatterns.ShortAlphaSeq -> Predicates.ShortAlphaSeq)
    check(20000)(Prop.forAll(text) { s =>
      pairs.forall { case (frozen, live) => matches(frozen, s) == matches(live, s) }
    })
  }

  /** Runs `body` on a thread with a 1 MiB stack and returns its result; a
    * throw (a StackOverflowError included) fails the test. */
  private def onSmallStack[T](body: => T): T = {
    var result: Either[Throwable, T] = null
    val t = new Thread(null, () => {
      result = try Right(body) catch { case e: Throwable => Left(e) }
    }, "small-stack", 1L << 20)
    t.start()
    t.join()
    result.fold(e => fail(s"threw $e", e), identity)
  }

  test("the spacing predicates return on long one-token runs with a 1 MiB stack") {
    val runs = Seq("x " * 500000, "7 " * 500000, "ab " * 350000)
    val got = onSmallStack(runs.map(s =>
      (Predicates.isSpacedText(s), Predicates.needsSpacingFix(s), Predicates.needsTableSpacingFix(s))))
    assert(got == Seq((true, true, true), (true, true, true), (false, false, true)))
  }

  test("extractOne returns a row for a PDF line of 3000 one-char tokens with a 1 MiB stack") {
    val pdf = SyntheticPdf.pdfFor(Seq(Seq("x " * 3000)))
    val row = onSmallStack(Pipeline.extractOne("doc://spaced", pdf, "ro", 0))
    assert(row.url == "doc://spaced")
    assert(row.markdown.count(_ == 'x') >= 3000)
  }
}
