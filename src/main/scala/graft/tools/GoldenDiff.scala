package graft.tools

import graft.sources.ReferenceExamples
import java.nio.file.{Files, Paths}

/** Dumps the LCS-based line diff between our rendered markdown for the
  * reference's long_report.docling.json and the committed long_report.md —
  * the residue GOLDEN_RESIDUE.md classifies (`--repair` first runs the
  * two-channel repair against long_report.pdf, as q44 does). Artifacts come
  * from ReferenceExamples (override: -Dspark.graft.referenceExamples=<dir>).
  * Usage: runMain graft.tools.GoldenDiff [outPath] [--repair]
  */
object GoldenDiff {
  def main(args: Array[String]): Unit = {
    val json = ReferenceExamples.string("long_report.docling.json")
    val want = ReferenceExamples.string("long_report.md")
    val ingested = graft.sources.DoclingJsonIngest.parse(json, "doc://long_report")
    val base =
      if (args.contains("--repair")) {
        val pdf = ReferenceExamples.bytes("long_report.pdf")
        val glyphs = graft.extract.PdfDoc.extractGlyphs(pdf)
        val (repaired, report, filled) =
          graft.extract.Pipeline.repairDocWithTextLayer(ingested, glyphs)
        println(s"repair: spacing=$report cellsFilled=$filled")
        repaired
      } else ingested
    val (doc, _) = graft.extract.DocTransforms.applyAll(base)
    val got = graft.extract.MarkdownRender.postProcess(
      graft.extract.MarkdownRender.render(doc))

    val gl = got.split("\n", -1)
    val wl = want.split("\n", -1)
    // LCS table to recover the alignment, then print unmatched lines on
    // both sides with positions
    val m = gl.length; val n = wl.length
    val dp = Array.ofDim[Int](m + 1, n + 1)
    for (i <- 1 to m; j <- 1 to n)
      dp(i)(j) = if (gl(i - 1) == wl(j - 1)) dp(i - 1)(j - 1) + 1
                 else math.max(dp(i - 1)(j), dp(i)(j - 1))
    val sb = new StringBuilder
    var i = m; var j = n
    val ops = scala.collection.mutable.ArrayBuffer.empty[(String, Int, String)]
    while (i > 0 || j > 0) {
      if (i > 0 && j > 0 && gl(i - 1) == wl(j - 1)) { i -= 1; j -= 1 }
      else if (j > 0 && (i == 0 || dp(i)(j - 1) >= dp(i - 1)(j))) {
        ops += (("WANT", j - 1, wl(j - 1))); j -= 1
      } else { ops += (("GOT ", i - 1, gl(i - 1))); i -= 1 }
    }
    ops.reverse.foreach { case (k, idx, line) =>
      sb ++= f"$k $idx%4d | $line%n"
    }
    sb ++= s"\n== equal ${dp(m)(n)} of ${n} reference lines; got=${m} lines\n"
    val out = if (args.nonEmpty) args(0) else "/tmp/golden_diff.txt"
    Files.writeString(Paths.get(out), sb.result())
    println(s"equal=${dp(m)(n)} want=$n got=$m -> $out")
  }
}
