package graft.sources

import java.nio.file.{Files, Path, Paths}

/** Locates the reference repo's pinned artifacts (`examples/long_report.pdf`,
  * `.docling.json`, `.md`) that q44, GoldenDiff and the reference-parity
  * specs read. One override, the `spark.graft.referenceExamples` key: q44
  * reads it from the session conf, everything else as a JVM system property
  * (which a SparkConf also picks up). Without it the directory is
  * `reference/examples` under the user's home directory.
  */
object ReferenceExamples {
  val Key = "spark.graft.referenceExamples"

  /** A reference artifact that is not there: one line naming the file and
    * the override, no stack trace. */
  final class Missing(msg: String) extends RuntimeException(msg, null, false, false)

  private def path(name: String, overrideDir: Option[String]): Path = {
    val p = overrideDir.map(Paths.get(_))
      .getOrElse(Paths.get(sys.props("user.home"), "reference", "examples"))
      .resolve(name)
    if (!Files.isRegularFile(p))
      throw new Missing(s"reference artifact $p is missing; set $Key to the " +
        "directory that holds the reference's examples/")
    p
  }

  def bytes(name: String, overrideDir: Option[String] = sys.props.get(Key)): Array[Byte] =
    Files.readAllBytes(path(name, overrideDir))

  def string(name: String, overrideDir: Option[String] = sys.props.get(Key)): String =
    Files.readString(path(name, overrideDir))
}
