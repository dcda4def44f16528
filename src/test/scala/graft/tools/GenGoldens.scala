package graft.tools

import java.nio.file.{Files, Paths}
import java.util.Base64

/** Regenerates the committed end-to-end goldens (url, expected markdown,
  * expected extracted text) for the deterministic synthetic corpus.
  * Run: sbt "Test/runMain graft.tools.GenGoldens [n] [outPath]" and commit the file.
  */
object GenGoldens {
  val DefaultPath = "src/test/resources/goldens_seed42.tsv"
  val Seed = 42L

  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 32
    val out = if (args.length > 1) args(1) else DefaultPath
    def b64(s: String) = Base64.getEncoder.encodeToString(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new StringBuilder
    for (i <- 0L until n.toLong) {
      val doc = graft.sources.SyntheticPages.dirtyDoc(Seed, i)
      sb ++= doc.url
      sb += '\t'
      sb ++= b64(graft.sources.SyntheticPages.expectedMarkdown(doc))
      sb += '\t'
      sb ++= b64(graft.sources.SyntheticPages.expectedText(doc))
      sb += '\n'
    }
    Files.createDirectories(Paths.get(out).getParent)
    Files.writeString(Paths.get(out), sb.result())
    println(s"wrote $n goldens to $out")
  }
}
