package graft.extract

import java.nio.file.{Files, Paths}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The commit's per-task bucket writer, called directly: a retried attempt
  * replaces its bucket files instead of adding to them, and a failed one
  * leaves nothing behind. */
class BucketWriterSpec extends AnyFunSuite with graft.TempDirs {
  private lazy val spark = SparkTestSession.spark
  private lazy val setup = Pipeline.bucketWriterSetup(spark)

  /** 12 extracted documents over buckets 0, 1 and 2. */
  private lazy val rows = (0L until 12L).map { i =>
    val p = graft.sources.SyntheticPages.page(42L, i)
    Pipeline.extractOne(p.url, p.html, p.lang, (i % 3).toInt)
  }

  /** Every file under `dir/data`, relative to it. */
  private def listing(dir: String): Seq[String] = {
    val data = Paths.get(dir, "data")
    if (!Files.exists(data)) return Nil
    val walk = Files.walk(data)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(data.relativize(_).toString).toList.sorted
    finally walk.close()
  }

  test("two attempts of one task leave one visible file per bucket and the rows once") {
    val dir = tempDir("graft-writer-retry")
    val data = Paths.get(dir, "data").toString
    val stats = (0L to 1L).map { attempt =>
      Pipeline.writeBuckets(rows.iterator, data, 7L, attempt, setup).toList
    }
    assert(stats(0).map(s => (s._1, s._2)).sorted == Seq((0, 4L), (1, 4L), (2, 4L)))
    assert(stats(0).map(s => (s._1, s._2, s._3, s._4, s._5)) ==
      stats(1).map(s => (s._1, s._2, s._3, s._4, s._5)))
    assert(stats(0).map(_._3).sum == rows.map(_.md_chars).sum)
    assert(listing(dir) == (0 to 2).map(b => s"bucket=$b/part-7.snappy.parquet"))
    val back = spark.read.parquet(data).select("url", "bucket", "markdown").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).sortBy(_._1).toSeq
    assert(back == rows.map(r => (r.url, r.bucket, r.markdown)).sortBy(_._1))
  }

  test("an attempt whose rows throw leaves no visible file and no temp file") {
    val dir = tempDir("graft-writer-fail")
    val data = Paths.get(dir, "data").toString
    val failing = rows.iterator.zipWithIndex.map { case (r, i) =>
      if (i == 7) throw new IllegalStateException("row 7 failed") else r
    }
    val e = intercept[IllegalStateException] {
      Pipeline.writeBuckets(failing, data, 3L, 0L, setup).toList
    }
    assert(e.getMessage == "row 7 failed")
    assert(listing(dir).isEmpty, s"left behind: ${listing(dir)}")
  }

  test("url, markdown and text are written without a dictionary; lang keeps one") {
    val dir = tempDir("graft-writer-dict")
    val data = Paths.get(dir, "data").toString
    Pipeline.writeBuckets(rows.iterator, data, 5L, 0L, setup).toList
    val file = Paths.get(data, "bucket=0", "part-5.snappy.parquet")
    val reader = ParquetFileReader.open(new LocalInputFile(file))
    val dictionary =
      try reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
        .map(c => c.getPath.toDotString -> c.hasDictionaryPage).toMap
      finally reader.close()
    assert(dictionary("url") == false && dictionary("markdown") == false &&
      dictionary("text") == false, dictionary)
    assert(dictionary("lang"), dictionary)
  }
}
