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

  test("bucket stats are exactly-once: manifest equals a rescan of data, full and resumed") {
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
    // every bucket extracted in one run
    val full = java.nio.file.Files.createTempDirectory("graft-stats-full").toString
    val (_, docs) = Pipeline.extractAndCommit(spark, pages, full, numBuckets = 8)
    assert(docs == 32)
    assert(manifest(full) == rescan(full), "full run")
    // an earlier run committed two buckets; the resumed run skips them
    val resumed = java.nio.file.Files.createTempDirectory("graft-stats-resume").toString
    val first = pages.join(Pipeline.withBucket(pages, 8)
      .filter(org.apache.spark.sql.functions.col("bucket").isin(early.toSeq: _*))
      .select("url"), "url")
    val (_, docs1) = Pipeline.extractAndCommit(spark, first, resumed, numBuckets = 8)
    assert(graft.lineage.Lineage.committedBuckets(resumed) == early)
    val (_, docs2) = Pipeline.extractAndCommit(spark, pages, resumed, numBuckets = 8)
    assert(docs1 + docs2 == 32, s"docs1=$docs1 docs2=$docs2")
    assert(manifest(resumed) == rescan(resumed), "resumed run")
    assert(manifest(resumed) == manifest(full), "resumed vs full")
  }

  test("layout: one new file per bucket per commit, full and resumed, tasks carrying several buckets") {
    // 32 buckets over min(32, 4 x 4 cores) = 16 write tasks (the plan-shape
    // case pins that count), so tasks hold several buckets each
    val pages = pagesDF(256)
    val bucketOf = Pipeline.withBucket(pages, 32).select("url", "bucket").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(bucketOf.values.toSet == (0 until 32).toSet, "corpus must fill all 32 buckets")
    def files(d: String): Map[Int, Set[String]] = {
      val data = new java.io.File(d, "data")
      Option(data.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(_.getName.startsWith("bucket=")).map { b =>
          b.getName.stripPrefix("bucket=").toInt ->
            b.list().filter(_.endsWith(".parquet")).toSet
        }.toMap
    }
    // runs one commit; returns the new parquet files per bucket dir
    def commit(in: org.apache.spark.sql.DataFrame, dir: String): Map[Int, Int] = {
      val before = files(dir)
      Pipeline.extractAndCommit(spark, in, dir, numBuckets = 32)
      files(dir).map { case (b, fs) => b -> (fs -- before.getOrElse(b, Set.empty)).size }
    }
    val full = java.nio.file.Files.createTempDirectory("graft-layout-full").toString
    val fullAdded = commit(pages, full)
    assert(fullAdded == (0 until 32).map(_ -> 1).toMap, s"full run new files: $fullAdded")
    // resume: a first run commits buckets 0-9, the second the other 22
    val early = (0 until 10).toSet
    val resumed = java.nio.file.Files.createTempDirectory("graft-layout-resume").toString
    val firstUrls = bucketOf.collect { case (u, b) if early(b) => u }.toSeq
    val firstAdded = commit(
      pages.filter(org.apache.spark.sql.functions.col("url").isin(firstUrls: _*)), resumed)
    assert(firstAdded == early.map(_ -> 1).toMap, s"first run new files: $firstAdded")
    val resAdded = commit(pages, resumed)
    assert(resAdded == (0 until 32).map(b => b -> (if (early(b)) 0 else 1)).toMap,
      s"resumed run new files: $resAdded")
    assert(spark.read.parquet(s"$resumed/data").count() == 256)
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
    assert(spark.sparkContext.defaultParallelism == 4)
    for (numBuckets <- Seq(2, 8, 32)) {
      val plan = Pipeline.extract(spark, pagesDF(8), numBuckets = numBuckets)
        .queryExecution.executedPlan.toString
      val exchanges = "Exchange".r.findAllIn(plan).length
      assert(exchanges == 1, s"expected exactly 1 shuffle, got $exchanges:\n$plan")
      val scan = plan.linesIterator.find(_.contains("LocalTableScan")).getOrElse("")
      assert(scan.contains("html#") && !scan.contains("text#"), s"unpruned scan: $scan")
      // a few write tasks per core, not one per bucket: 4 per core x 4 cores
      val parts = "hashpartitioning\\(bucket#\\d+, (\\d+)\\)".r.findAllMatchIn(plan)
        .map(_.group(1).toInt).toSeq
      assert(parts == Seq(math.min(numBuckets, 16)),
        s"numBuckets=$numBuckets: exchange partitions $parts:\n$plan")
    }
  }
}
