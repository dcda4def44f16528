package graft.extract

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.util.Base64

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Distributed end-to-end: the pipeline over the synthetic pages table must
  * reproduce the committed goldens byte-for-byte per url, and resume must
  * skip committed buckets. */
class SparkPipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def goldens(): Map[String, (String, String)] = {
    val src = scala.io.Source.fromFile("src/test/resources/goldens_seed42.tsv", "UTF-8")
    try src.getLines().map { line =>
      val f = line.split("\t", -1)
      def d(s: String) = new String(Base64.getDecoder.decode(s), "UTF-8")
      f(0) -> (d(f(1)), d(f(2)))
    }.toMap
    finally src.close()
  }

  private def pagesDF(n: Int) = {
    import spark.implicits._
    spark.createDataset((0L until n.toLong).map(i => graft.sources.SyntheticPages.page(42L, i)))
      .toDF()
  }

  test("distributed extraction matches committed goldens byte-for-byte") {
    import spark.implicits._
    val out = Pipeline.extract(spark, pagesDF(64), numBuckets = 8)
      .map(r => (r.url, r.markdown, r.text)).collect()
    val g = goldens()
    assert(out.length == 64)
    for ((url, md, text) <- out) {
      val (gmd, gtext) = g(url)
      assert(md == gmd, s"markdown mismatch for $url")
      assert(text == gtext, s"text mismatch for $url")
    }
  }

  test("lineage: second run resumes and skips committed buckets") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lineage").toString
    val (snap1, docs1) = Pipeline.extractAndCommit(spark, pagesDF(32), dir, numBuckets = 8)
    assert(docs1 == 32)
    val committed = graft.lineage.Lineage.committedBuckets(dir)
    assert(committed.nonEmpty)
    // resumed run: everything already committed -> no new docs
    val (snap2, docs2) = Pipeline.extractAndCommit(spark, pagesDF(32), dir, numBuckets = 8)
    assert(snap2 != snap1)
    assert(docs2 == 0)
    // output stays complete and readable
    val rows = spark.read.parquet(s"$dir/data").count()
    assert(rows == 32)
    // per-partition lineage rows exist
    val snaps = graft.lineage.Lineage.snapshots(dir)
    assert(snaps.length == 2)
    assert(snaps.last._2.map(_.docCount).sum == 32)
  }

  test("fused commit: identical committed rows and manifest stats, resume green") {
    val dirF = java.nio.file.Files.createTempDirectory("graft-lineage-fused").toString
    val dirX = java.nio.file.Files.createTempDirectory("graft-lineage-xchg").toString
    val (_, docsF) = Pipeline.extractAndCommit(spark, pagesDF(32), dirF, numBuckets = 8, fused = true)
    val (_, docsX) = Pipeline.extractAndCommit(spark, pagesDF(32), dirX, numBuckets = 8)
    assert(docsF == 32 && docsX == 32)
    // committed ROWS are identical across modes (layout differs only in
    // file count per bucket dir)
    def rows(d: String) = spark.read.parquet(s"$d/data")
      .select("url", "markdown", "text", "bucket").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3))).toSet
    assert(rows(dirF) == rows(dirX))
    // per-bucket manifest stats identical (exactly-once accumulator in the
    // fused result stage)
    def stats(d: String) = graft.lineage.Lineage.snapshots(d).last._2
      .map(s => (s.bucket, s.docCount, s.bytes)).toSet
    assert(stats(dirF) == stats(dirX))
    // resume on the fused-committed dir is a no-op
    val (_, docs2) = Pipeline.extractAndCommit(spark, pagesDF(32), dirF, numBuckets = 8, fused = true)
    assert(docs2 == 0)
    assert(graft.lineage.Lineage.snapshots(dirF).last._2.map(_.docCount).sum == 32)
  }

  test("bucket stats are exactly-once: manifest equals a rescan of data, both modes, full and resumed") {
    import org.apache.spark.sql.functions.{count, lit, sum}
    val pages = pagesDF(32)
    val buckets = Pipeline.withBucket(pages, 8).select("bucket").distinct()
      .collect().map(_.getInt(0)).sorted
    assert(buckets.length >= 4, s"corpus must spread over buckets: ${buckets.toSeq}")
    val early = buckets.take(2).toSet
    def manifest(d: String) = graft.lineage.Lineage.snapshots(d).last._2
      .map(s => (s.bucket, s.docCount, s.bytes)).toSet
    def rescan(d: String) = spark.read.parquet(s"$d/data").groupBy("bucket")
      .agg(count(lit(1)), sum("md_chars")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    for (fused <- Seq(false, true)) {
      // every bucket extracted in one run
      val full = java.nio.file.Files.createTempDirectory("graft-stats-full").toString
      val (_, docs) = Pipeline.extractAndCommit(spark, pages, full, numBuckets = 8, fused = fused)
      assert(docs == 32)
      assert(manifest(full) == rescan(full), s"fused=$fused full run")
      // an earlier run committed two buckets; the resumed run skips them
      val resumed = java.nio.file.Files.createTempDirectory("graft-stats-resume").toString
      val first = pages.join(Pipeline.withBucket(pages, 8)
        .filter(org.apache.spark.sql.functions.col("bucket").isin(early.toSeq: _*))
        .select("url"), "url")
      val (_, docs1) = Pipeline.extractAndCommit(spark, first, resumed, numBuckets = 8, fused = fused)
      assert(graft.lineage.Lineage.committedBuckets(resumed) == early)
      val (_, docs2) = Pipeline.extractAndCommit(spark, pages, resumed, numBuckets = 8, fused = fused)
      assert(docs1 + docs2 == 32, s"fused=$fused docs1=$docs1 docs2=$docs2")
      assert(manifest(resumed) == rescan(resumed), s"fused=$fused resumed run")
      assert(manifest(resumed) == manifest(full), s"fused=$fused resumed vs full")
    }
  }

  test("mixed HTML and PDF payloads flow through one pipeline run") {
    import spark.implicits._
    val htmlPages = (0L until 8L).map(i => graft.sources.SyntheticPages.page(42L, i))
      .map(p => (p.url, p.html, p.text, p.lang))
    val pdfPages = (0L until 8L).map { i =>
      val (pdf, expected) = graft.sources.SyntheticPdfPages.pdfDoc(42L, i)
      (expected.url, pdf, "", "ro")
    }
    val pages = spark.createDataset(htmlPages ++ pdfPages).toDF("url", "html", "text", "lang")
    val out = Pipeline.extract(spark, pages, numBuckets = 4)
      .map(r => (r.url, r.markdown)).collect().toMap
    assert(out.size == 16)
    val g = goldens()
    val overlap = g.view.filterKeys(out.contains).toMap
    assert(overlap.size == 8, s"expected 8 html goldens in the mix, got ${overlap.size}")
    for ((url, (gmd, _)) <- overlap)
      assert(out(url) == gmd, s"html golden mismatch for $url")
    assert(pdfPages.forall { case (u, _, _, _) => out(u).contains("# Raport anual") })
  }

  test("driver smoke: entry() returns extracted rows") {
    assert(graft.SparkEntry.entry(spark).count() == 64)
  }

  test("plan shape: single exchange, scan prunes to url/html/lang") {
    val plan = Pipeline.extract(spark, pagesDF(8), numBuckets = 4)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected exactly 1 shuffle, got $exchanges:\n$plan")
  }
}
