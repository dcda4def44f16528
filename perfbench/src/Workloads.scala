package perfbench

import graft.extract.{Pipeline, SyntheticPdf}
import graft.lineage.Lineage
import graft.model.{Doc, ItemKind}
import graft.ops.Ops
import graft.sources.{SyntheticPages, SyntheticPdfPages, WarcSource}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

/** Inputs of one workload, materialized under `dir`, with the bytes of
  * every document kept for the reference outputs and the ledger sample. */
final case class Corpus(
    dir: Path,
    pages: Array[(String, Array[Byte])],
    properties: Seq[(String, Double)],
    /** documents in the first half of the buckets (crawl_dedup only) */
    firstHalfDocs: Long = 0L) {
  def docs: Int = pages.length
  /** A fixed random sample: an even stride would alias with the generators'
    * i % 10 document classes. */
  def sample: Seq[(String, Array[Byte], String)] =
    new scala.util.Random(0).shuffle((0 until docs).toVector).take(Workloads.SampleDocs).sorted
      .map { i => (pages(i)._1, pages(i)._2, "ro") }
}

/** What every timed run of a corpus must commit: url -> (md5 of markdown,
  * md5 of text) from a direct `Pipeline.extractOne` call on the same bytes.
  * `badAtSetup` holds urls whose output already differs from the
  * generator's own expected markdown, so they fail every timed run. */
final case class Expected(digests: Map[String, (String, String)], badAtSetup: Set[String],
                          aggressiveShare: Double)

/** Wraps each public call the timed job makes. With tracing on, the call
  * runs under a job group named after its layer, and its wall interval is
  * kept so time outside Spark jobs can be split from Spark job time. */
final class Calls(val sc: SparkContext, traced: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Calls.Span]

  def apply[A](layer: String)(f: => A): A = {
    if (!traced) return f
    sc.setJobGroup(layer, layer)
    val s = System.currentTimeMillis()
    try f
    finally {
      spans += Calls.Span(layer, s, System.currentTimeMillis())
      sc.clearJobGroup()
    }
  }

  def seconds(layer: String): Double =
    spans.filter(_.layer == layer).map(s => s.endMs - s.startMs).sum / 1000.0
}

object Calls {
  final case class Span(layer: String, startMs: Long, endMs: Long)
}

/** Failed documents of one timed job plus the counts read off its output. */
final case class Checked(failed: Int, counts: Map[String, Double])

trait Workload {
  def name: String
  /** Untimed jobs run before the window; the first runs are slower while
    * the JIT compiles the engine's hot paths. */
  def warmupJobs: Int = 2
  /** Generates the inputs from `seed` and materializes them under `dir`. */
  def generate(spark: SparkSession, seed: Long, dir: Path): Corpus
  /** The generator's own expected markdown of document `i`, where it has one. */
  def golden(seed: Long, i: Int): Option[String] = None
  /** Runs the timed job into `out` and returns the (untimed) output check. */
  def job(spark: SparkSession, calls: Calls, corpus: Corpus, expected: Expected,
          out: Path): () => Checked
}

object Workloads {
  val Buckets: Int = Pipeline.DefaultBuckets
  val SampleDocs = 300

  val all: Seq[Workload] = Seq(HtmlCommit, CrawlDedup)

  def hex(bytes: Array[Byte]): String = bytes.map(b => f"${b & 0xff}%02x").mkString

  def digest(s: String): String =
    hex(java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8)))

  /** f(0) .. f(n-1) on the common fork-join pool plus the calling thread. */
  def parTabulate[T: ClassTag](n: Int)(f: Int => T): Array[T] = {
    val out = new Array[T](n)
    java.util.stream.IntStream.range(0, n).parallel().forEach(i => out(i) = f(i))
    out
  }

  /** Reference outputs of every document, computed outside Spark. */
  def expect(wl: Workload, seed: Long, corpus: Corpus): Expected = {
    val refs = parTabulate(corpus.docs) { i =>
      val (url, bytes) = corpus.pages(i)
      val r = Pipeline.extractOne(url, bytes, "ro", 0)
      val md = digest(r.markdown)
      (url -> (md, digest(r.text)), r.backend, wl.golden(seed, i).forall(g => digest(g) == md))
    }
    Expected(refs.map(_._1).toMap, refs.filterNot(_._3).map(_._1._1).toSet,
      share(refs.count(_._2 == "aggressive"), corpus.docs))
  }

  def writePages(spark: SparkSession, rows: Seq[(String, Array[Byte])], dir: Path): Unit = {
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(rows, 16))
      .toDF("url", "html").withColumn("lang", lit("ro"))
      .write.mode("overwrite").parquet(dir.resolve("pages").toString)
  }

  def share(n: Int, of: Int): Double = if (of == 0) 0.0 else n.toDouble / of

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally walk.close()
  }

  /** Per-url check of a committed output against the corpus: each expected
    * url appears exactly once with the expected digests, and no other url
    * appears. Also returns the counts the output carries. */
  def checkCommitted(spark: SparkSession, out: Path, expected: Expected): Checked = {
    import spark.implicits._
    val rows = spark.read.parquet(out.resolve("data").toString)
      .select($"url", md5($"markdown"), md5($"text"), $"changed_cells", $"removed_items",
        $"backend", $"spacing_fixed")
      .as[(String, String, String, Int, Int, String, Int)].collect()
    val seen = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val wrong = mutable.HashSet.empty[String]
    for ((url, m, t, _, _, _, _) <- rows) {
      seen(url) += 1
      if (!expected.digests.get(url).contains((m, t))) wrong += url
    }
    val failedExpected = expected.digests.keysIterator.count(u =>
      seen(u) != 1 || wrong(u) || expected.badAtSetup(u))
    val unexpected = rows.count(r => !expected.digests.contains(r._1))
    val files = Files.walk(out.resolve("data"))
    val (nFiles, bytes) =
      try files.iterator().asScala.filter(p => p.toString.endsWith(".parquet"))
        .foldLeft((0, 0L)) { case ((n, b), p) => (n + 1, b + Files.size(p)) }
      finally files.close()
    Checked(failedExpected + unexpected, Map(
      "extract.changed_cells" -> rows.map(_._4.toLong).sum.toDouble,
      "extract.removed_items" -> rows.map(_._5.toLong).sum.toDouble,
      "extract.aggressive_probe_docs" -> rows.count(_._6 == "aggressive").toDouble,
      "extract.spacing_fixed_docs" -> rows.count(_._7 > 0).toDouble,
      "lineage.files" -> nFiles.toDouble,
      "lineage.data_mb" -> bytes / 1048576.0,
      "lineage.snapshots" -> Lineage.snapshots(out.toString).size.toDouble))
  }
}

import Workloads._

/** Synthetic HTML reports through the production commit path: dirty tables,
  * KPI blocks, chart noise and boilerplate, so DocTransforms and the
  * MarkdownPost chain carry most of the per-document cost. */
object HtmlCommit extends Workload {
  val name = "html_commit"
  val Docs = 3000

  def generate(spark: SparkSession, seed: Long, dir: Path): Corpus = {
    val pages = parTabulate(Docs) { i => val p = SyntheticPages.page(seed, i.toLong); (p.url, p.html) }
    writePages(spark, pages.toSeq, dir)
    Corpus(dir, pages, Seq("html_mb" -> pages.map(_._2.length.toLong).sum / 1048576.0))
  }

  override def golden(seed: Long, i: Int): Option[String] =
    Some(SyntheticPages.expectedMarkdown(SyntheticPages.dirtyDoc(seed, i.toLong)))

  def job(spark: SparkSession, calls: Calls, corpus: Corpus, expected: Expected,
          out: Path): () => Checked = {
    val pages = spark.read.parquet(corpus.dir.resolve("pages").toString)
    calls("extract")(Pipeline.extractAndCommit(spark, pages, out.toString))
    () => checkCommitted(spark, out, expected)
  }
}

/** A skewed crawl read from WARC segments, committed in two resumed halves
  * and deduplicated: the only workload that runs sources, lineage resume,
  * ops and the PDF parser. The pages are `SyntheticPages.skewPage` (giant
  * 100x documents, 20% exact templates, 10% near-duplicate cliques), except
  * that documents with i % 10 in {5, 8} are `SyntheticPdfPages` PDFs: the
  * odd ones Flate-compressed, and every other even one rewritten in the
  * PDF 1.5 layout (object streams, xref stream). */
object CrawlDedup extends Workload {
  val name = "crawl_dedup"
  val Docs = 2000
  val Segments = 8
  // one job already runs dedupChain's ~60 Spark jobs, most of them small
  override val warmupJobs = 1
  private val DocId = "doc-(\\d+)\\.(html|pdf)$"

  def isTemplate(i: Int): Boolean = i % 10000 != 0 && (i % 10 == 1 || i % 10 == 2)
  def isPdf(i: Int): Boolean = i % 10 == 5 || i % 10 == 8
  def isPdf15(i: Int): Boolean = i % 20 == 8

  /** Page lines of a generated document for the PDF 1.5 writer: text items
    * wrapped at 52 characters, one line per table row. */
  def linesOf(doc: Doc): Seq[Seq[String]] =
    doc.pages.toSeq.map { pg =>
      doc.items.toSeq.filter(_.pageNo == pg.pageNo).flatMap { it =>
        if (it.kind == ItemKind.Table) it.table.toSeq.flatMap(t =>
          t.cells.groupBy(_.startRow).toSeq.sortBy(_._1)
            .map(_._2.sortBy(_.startCol).map(_.text).mkString("  ")))
        else wrap(it.text)
      }
    }

  private def wrap(text: String): Seq[String] =
    text.split(" ").foldLeft(Vector.empty[String]) { (lines, w) =>
      if (lines.nonEmpty && lines.last.length + 1 + w.length <= 52)
        lines.init :+ (lines.last + " " + w)
      else lines :+ w
    }

  def page(seed: Long, i: Int): SyntheticPages.GeneratedPage = {
    val p = SyntheticPages.skewPage(seed, i.toLong)
    if (!isPdf(i)) p
    else {
      val (classic, doc) = SyntheticPdfPages.pdfDoc(seed, i.toLong)
      p.copy(url = SyntheticPdfPages.url(i.toLong),
        html = if (isPdf15(i)) SyntheticPdf.pdfFor15(linesOf(doc)) else classic)
    }
  }

  def generate(spark: SparkSession, seed: Long, dir: Path): Corpus = {
    import spark.implicits._
    val pages = parTabulate(Docs)(i => page(seed, i))
    val warcDir = dir.resolve("warc")
    Files.createDirectories(warcDir)
    for (s <- 0 until Segments) {
      val recs = (s until Docs by Segments).map(i => (pages(i).url, pages(i).warc_ts, pages(i).html))
      val gz = s % 2 == 0
      Files.write(warcDir.resolve(f"seg-$s%02d.warc" + (if (gz) ".gz" else "")),
        WarcSource.writeWarc(recs, gzip = gz))
    }
    // the bucket depends on the url alone
    val firstHalf = Pipeline.withBucket(pages.toSeq.map(p => (p.url, Array.emptyByteArray, "ro"))
      .toDF("url", "html", "lang"), Buckets).filter($"bucket" < Buckets / 2).count()
    Corpus(dir, pages.map(p => (p.url, p.html)), Seq(
      "giant_share" -> share((0 until Docs).count(_ % 10000 == 0), Docs),
      "exact_template_share" -> share((0 until Docs).count(isTemplate), Docs),
      "near_dup_share" -> share((0 until Docs).count(i => i % 10000 != 0 && i % 10 == 3), Docs),
      "pdf_share" -> share((0 until Docs).count(isPdf), Docs),
      "pdf_flate_classic_share" -> share((0 until Docs).count(i => isPdf(i) && i % 2 == 1), Docs),
      "pdf15_share" -> share((0 until Docs).count(isPdf15), Docs),
      "html_mb" -> pages.map(_.html.length.toLong).sum / 1048576.0),
      firstHalfDocs = firstHalf)
  }

  def job(spark: SparkSession, calls: Calls, corpus: Corpus, expected: Expected,
          out: Path): () => Checked = {
    import spark.implicits._
    val (pages, records) = calls("sources") {
      val df = WarcSource.readWarc(spark, corpus.dir.resolve("warc").resolve("seg-*").toString)
        .withColumn("lang", lit("ro")).cache()
      (df, df.count())
    }
    val half = Pipeline.withBucket(pages, Buckets).filter($"bucket" < Buckets / 2).drop("bucket")
    val (_, firstDocs) = calls("extract")(Pipeline.extractAndCommit(spark, half, out.toString))
    val skipped = Lineage.committedBuckets(out.toString).size
    val (_, secondDocs) = calls("extract")(Pipeline.extractAndCommit(spark, pages, out.toString))
    pages.unpersist()
    val canon = calls("ops") {
      Ops.dedupChain(spark.read.parquet(out.resolve("data").toString)
        .select(regexp_extract($"url", DocId, 1).cast("long").as("doc_id"), $"text"))
        .as[(Long, Long)].collect()
    }
    () => {
      val c = checkCommitted(spark, out, expected)
      // resume: two snapshots, and the second commit extracted only the
      // buckets the first one left out
      val resumeOk = c.counts("lineage.snapshots") == 2 &&
        firstDocs == corpus.firstHalfDocs && secondDocs == corpus.docs - corpus.firstHalfDocs
      // dedup: every document once, every exact-template class one canonical id
      val byDoc = canon.toMap
      val classes = (0 until corpus.docs).filter(isTemplate).groupBy(_ % 37)
      val splitMembers = classes.values.filter(_.map(i => byDoc.get(i.toLong)).distinct.size != 1)
        .map(_.size).sum
      val dedupFailed = (corpus.docs - byDoc.size).abs + (canon.length - byDoc.size) + splitMembers
      val failed = if (resumeOk && records == corpus.docs) c.failed + dedupFailed else corpus.docs
      Checked(math.min(failed, corpus.docs), c.counts ++ Map(
        "lineage.skipped_buckets" -> skipped.toDouble,
        "sources.warc_records" -> records.toDouble,
        "ops.canonical_classes" -> canon.map(_._2).distinct.length.toDouble))
    }
  }
}
