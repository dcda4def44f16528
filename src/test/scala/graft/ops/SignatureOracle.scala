package graft.ops

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Frozen per-document signature folds: the minhash, 16-bit simhash and
  * 64-bit simhash of one text, written out from the text with their own
  * trigram loop and their own constants, so a change to the live kernels in
  * [[Ops]] cannot carry its reference along. Each returns None when the text
  * has fewer than 3 tokens (no trigram, no signature). */
object SignatureOracle {
  private val K = 8
  private val P = 2147483647L // 2^31-1

  /** Distinct word-3-grams -> polyhash -> min over the LCG permutations
    * (a_j, b_j) = (2j + 3, 5j + 7) mod 2^31-1. */
  def minhashSigLocal(text: String): Option[Array[Long]] = {
    // limit -1 keeps trailing empty tokens, matching Spark's split(col, " ")
    // (a plain String.split(" ") drops them and diverges on trailing spaces)
    val w = text.split(" ", -1)
    if (w.length < 3) return None
    val seen = scala.collection.mutable.HashSet.empty[String]
    val sig = Array.fill(K)(Long.MaxValue)
    var i = 0
    while (i + 2 < w.length) {
      val ng = w(i) + " " + w(i + 1) + " " + w(i + 2)
      if (seen.add(ng)) {
        val h = graft.functions.PolyHash.hashString(ng)
        var j = 0
        while (j < K) {
          val v = java.lang.Math.floorMod((2L * j + 3) * h + (5L * j + 7), P)
          if (v < sig(j)) sig(j) = v
          j += 1
        }
      }
      i += 1
    }
    Some(sig)
  }

  private def distinctTrigramHashes(text: String): Option[Array[Long]] = {
    val w = text.split(" ", -1)
    if (w.length < 3) None
    else Some((0 until w.length - 2).map(i => w(i) + " " + w(i + 1) + " " + w(i + 2))
      .distinct.map(graft.functions.PolyHash.hashString).toArray)
  }

  /** Bit j (j < 16) is set iff bit j of more than half the distinct trigram
    * hashes is set. */
  def simhash16(text: String): Option[Long] = distinctTrigramHashes(text).map { hs =>
    val ones = new Array[Int](16)
    for (h <- hs; j <- 0 until 16) ones(j) += ((h >> j) & 1L).toInt
    (0 until 16).foldLeft(0L) { (sim, j) =>
      if (2L * ones(j) > hs.length) sim | (1L << j) else sim
    }
  }

  /** Bit 16k + j is set iff bit j of view k, ((2k + 3) h + 7k + 11) mod
    * 2^31-1, is set for more than half the distinct trigram hashes. */
  def simhash64(text: String): Option[Long] = distinctTrigramHashes(text).map { hs =>
    val ones = new Array[Int](64)
    for (h <- hs; k <- 0 until 4) {
      val view = java.lang.Math.floorMod((2L * k + 3) * h + (7L * k + 11), P)
      for (j <- 0 until 16) ones(k * 16 + j) += ((view >> j) & 1L).toInt
    }
    (0 until 64).foldLeft(0L) { (sim, b) =>
      if (2L * ones(b) > hs.length) sim | (1L << b) else sim
    }
  }
}

/** The live signature kernels over `Ops.trigramHashes` against the frozen
  * folds, on texts built to hit the edges of the trigram split. */
class SignatureOracleSpec extends AnyFunSuite {
  // the empty word makes doubled spaces; the short vocabulary repeats trigrams
  private val vocab = Seq("", "a", "ana", "mere", "știință", "übergröße", "日本語", "😀x")
  private val wordGen: Gen[String] = Gen.frequency(
    8 -> Gen.oneOf(vocab), 2 -> Gen.identifier, 1 -> Gen.asciiPrintableStr)
  private val textGen: Gen[String] = for {
    n <- Gen.frequency(3 -> Gen.chooseNum(0, 3), 7 -> Gen.chooseNum(4, 80))
    words <- Gen.listOfN(n, wordGen)
    tail <- Gen.oneOf("", " ", "  ")
  } yield words.mkString(" ") + tail

  test("each signature kernel equals its frozen fold on generated texts") {
    val prop = Prop.forAll(textGen) { text =>
      val hs = Option(Ops.trigramHashes(text))
      val shown = text.flatMap(c => if (c < ' ' || c > '~') f"\\u${c.toInt}%04X" else c.toString)
      Prop(hs.map(Ops.minhashOf(_).toSeq) == SignatureOracle.minhashSigLocal(text).map(_.toSeq)) :|
        s"minhash($shown)" &&
        Prop(hs.map(Ops.simhash16Of) == SignatureOracle.simhash16(text)) :| s"simhash16($shown)" &&
        Prop(hs.map(Ops.simhash64Of) == SignatureOracle.simhash64(text)) :| s"simhash64($shown)"
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(5000).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }
}
