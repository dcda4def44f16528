package graft.extract

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.util.Base64
import scala.jdk.CollectionConverters._

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
class SparkPipelineSpec extends AnyFunSuite with graft.TempDirs {
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

  /** The committed table as `spark.read.parquet` sees it: ExtractedRow's
    * fields without `bucket`, then the `bucket` partition column. */
  private val CommittedSchema = StructType(
    Seq("url", "markdown", "text", "lang").map(StructField(_, StringType)) ++
    Seq("page_count", "item_count", "table_count", "changed_cells", "removed_items")
      .map(StructField(_, IntegerType)) ++
    Seq("md_chars", "html_bytes").map(StructField(_, LongType)) ++
    Seq(StructField("backend", StringType)) ++
    Seq("ocr_retried", "ocr_accepted").map(StructField(_, BooleanType)) ++
    Seq("spacing_fixed", "suspect_repaired").map(StructField(_, IntegerType)) ++
    Seq(StructField("bucket", IntegerType)))

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
    val dir = tempDir("graft-lineage")
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
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum}
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
    // the latest snapshot's observed counts equal a rescan of the rows its
    // commit added: those outside the buckets committed before it
    val Observed = raw".*; observed: docs=(\d+) changed_cells=(\d+) removed_items=(\d+)".r
    def checkObserved(d: String, before: Set[Int], label: String): (Long, Long, Long) = {
      val Observed(docs, changed, removed) = graft.lineage.Lineage.latest(d).get.input
      val newRows = spark.read.parquet(s"$d/data")
        .filter(!col("bucket").isin(before.toSeq: _*))
        .agg(count(lit(1)), coalesce(sum("changed_cells"), lit(0L)),
          coalesce(sum("removed_items"), lit(0L)))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).head
      assert((docs.toLong, changed.toLong, removed.toLong) == newRows, label)
      newRows
    }
    // every bucket extracted in one run
    val full = tempDir("graft-stats-full")
    val (_, docs) = Pipeline.extractAndCommit(spark, pages, full, numBuckets = 8)
    assert(docs == 32)
    assert(manifest(full) == rescan(full), "full run")
    val (_, changed, removed) = checkObserved(full, Set.empty, "full run")
    assert(changed > 0 && removed > 0, "the corpus must exercise both counters")
    // an earlier run committed two buckets; the resumed run skips them
    val resumed = tempDir("graft-stats-resume")
    val first = pages.join(Pipeline.withBucket(pages, 8)
      .filter(org.apache.spark.sql.functions.col("bucket").isin(early.toSeq: _*))
      .select("url"), "url")
    val (_, docs1) = Pipeline.extractAndCommit(spark, first, resumed, numBuckets = 8)
    assert(graft.lineage.Lineage.committedBuckets(resumed) == early)
    checkObserved(resumed, Set.empty, "first commit")
    val (_, docs2) = Pipeline.extractAndCommit(spark, pages, resumed, numBuckets = 8)
    assert(docs1 + docs2 == 32, s"docs1=$docs1 docs2=$docs2")
    checkObserved(resumed, early, "resumed commit")
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
    // entries under data/ that no commit should leave: checksum side files,
    // a commit protocol's staging tree and success marker
    def strays(d: String): Seq[String] = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(d, "data"))
      try walk.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.endsWith(".crc") || n == "_temporary" || n == "_SUCCESS").toList
      finally walk.close()
    }
    // runs one commit; returns the new parquet files per bucket dir
    def commit(in: org.apache.spark.sql.DataFrame, dir: String): Map[Int, Int] = {
      val before = files(dir)
      Pipeline.extractAndCommit(spark, in, dir, numBuckets = 32)
      assert(strays(dir).isEmpty, s"stray entries under $dir/data: ${strays(dir)}")
      assert(spark.read.parquet(s"$dir/data").schema == CommittedSchema)
      files(dir).map { case (b, fs) => b -> (fs -- before.getOrElse(b, Set.empty)).size }
    }
    val full = tempDir("graft-layout-full")
    val fullAdded = commit(pages, full)
    assert(fullAdded == (0 until 32).map(_ -> 1).toMap, s"full run new files: $fullAdded")
    // resume: a first run commits buckets 0-9, the second the other 22
    val early = (0 until 10).toSet
    val resumed = tempDir("graft-layout-resume")
    val firstUrls = bucketOf.collect { case (u, b) if early(b) => u }.toSeq
    val firstAdded = commit(
      pages.filter(org.apache.spark.sql.functions.col("url").isin(firstUrls: _*)), resumed)
    assert(firstAdded == early.map(_ -> 1).toMap, s"first run new files: $firstAdded")
    val resAdded = commit(pages, resumed)
    assert(resAdded == (0 until 32).map(b => b -> (if (early(b)) 0 else 1)).toMap,
      s"resumed run new files: $resAdded")
    assert(spark.read.parquet(s"$resumed/data").count() == 256)
  }

  test("per-bucket elapsed_ms: the bucket holding a giant document exceeds the median bucket") {
    import spark.implicits._
    // skewPage(i) is a 100x giant for i % 10000 == 0: document 0 here
    val pages = spark.createDataset((0L until 64L).map(i =>
      graft.sources.SyntheticPages.skewPage(42L, i))).toDF()
    val giant = Pipeline.withBucket(pages, 8).filter($"url" === graft.sources.SyntheticPages
      .skewPage(42L, 0L).url).select("bucket").as[Int].head()
    val dir = tempDir("graft-elapsed")
    Pipeline.extractAndCommit(spark, pages, dir, numBuckets = 8)
    val elapsed = graft.lineage.Lineage.latest(dir).get.partitions
      .map(p => p.bucket -> p.elapsedMs).toMap
    assert(elapsed.size == 8, s"every bucket committed: $elapsed")
    val others = elapsed.removed(giant).values.toSeq.sorted
    val median = others(others.length / 2)
    assert(elapsed(giant) > median, s"giant bucket $giant: $elapsed")
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
