package graft

import org.scalatest.{Outcome, TestSuite}

/** Temporary directories for a suite's tests: each directory [[tempDir]]
  * makes is deleted, with everything under it, when its test ends, whether
  * the test passed or not. */
trait TempDirs extends TestSuite {
  private val made = scala.collection.mutable.ArrayBuffer.empty[String]

  /** A new directory under `java.io.tmpdir` whose name starts with `prefix`. */
  def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    made.synchronized(made += dir)
    dir
  }

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally made.synchronized {
      made.foreach(graft.extract.Pipeline.deleteTree)
      made.clear()
    }
}
