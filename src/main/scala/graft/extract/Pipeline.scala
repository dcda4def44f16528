package graft.extract

import graft.model._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** The end-to-end extraction pipeline as Catalyst-planned stages
  * (SURVEY.md §3.1 Spark lifecycle):
  *
  *   pages scan (url/html/lang pruned at the reader) -> bucket column
  *   (xxhash64(url) mod B, computed relationally so resume filters prune
  *   BEFORE the expensive parse) -> repartition on bucket into
  *   min(B, WriteTasksPerCore x cores) tasks -> mapPartitions parse (batched
  *   HTML tokenizer) -> typed doc-transform pass (pure item-array rewrites,
  *   reference order) -> markdown render + post-chain -> per-task Parquet
  *   write of each bucket's file -> lineage commit.
  *
  * Shuffle surface: exactly one exchange (the bucket repartition, which is
  * also the resume/lineage partition). Each bucket lands whole in one task;
  * a task carries several buckets when buckets outnumber the partitions. All
  * transforms are row-local; giant documents cost per-row only.
  */
object Pipeline {
  val DefaultBuckets = 64

  /** Cap on the bucket exchange's partitions per core. Every write task pays
    * a fixed setup (deserializing the task, generating its projections,
    * opening its shuffle reads), so fewer tasks than buckets amortize it;
    * several tasks per core let the scheduler even out bucket-heavy tasks. */
  val WriteTasksPerCore = 4

  /** Conversion knobs mirroring the reference CLI defaults
    * (cli.py:88-140): backend auto-probe ON, ocr_mode OFF, glyph
    * spacing-fix ON. `ocrMode = "auto"` enables the chars-per-page /
    * spaced-ratio retry triggers (conversion_utils.py:357-398). */
  case class ExtractOptions(
      backendAuto: Boolean = true,
      ocrMode: String = "off",
      spacingFix: Boolean = true,
      /** Has no effect: the suspect-cell OCR merge needs a second table read
        * and no payload yields one (see [[extractOne]]). Kept so existing
        * callers compile unchanged. */
      suspectRepair: Boolean = true,
      /** page_range=(a,b), 1-based inclusive (cli.py:19-31,
        * conversion_utils.py:348-353): convert only those pages. */
      pageRange: Option[(Int, Int)] = None,
      /** max_num_pages analog: convert only the first N pages. */
      maxPages: Option[Int] = None)

  /** Apply the page_range / max_pages restriction to a parsed tree — the
    * reference passes these to the converter, so it runs BEFORE the trigger
    * metrics (chars_per_page is computed over the restricted pages).
    * maxPages counts the first N pages remaining AFTER pageRange; items
    * without page provenance (pageNo <= 0) are never dropped. */
  private def restrictPages(doc: Doc, opts: ExtractOptions): Doc = {
    if (opts.pageRange.isEmpty && opts.maxPages.isEmpty) return doc
    val (lo, hi) = opts.pageRange.getOrElse((1, Int.MaxValue))
    val knownPages =
      (if (doc.pages.nonEmpty) doc.pages.map(_.pageNo)
       else doc.items.map(_.pageNo).distinct).filter(_ > 0).sorted
    val inRange = knownPages.filter(p => p >= lo && p <= hi)
    val kept = opts.maxPages.map(n => inRange.take(n)).getOrElse(inRange).toSet
    def wanted(p: Int): Boolean = p <= 0 || kept.contains(p)
    doc.copy(
      items = doc.items.filter(i => wanted(i.pageNo)),
      pages = doc.pages.filter(p => wanted(p.pageNo)))
  }

  val CharsPerPageOcrTrigger = 200.0
  /** SPACED_CELL_RATIO_THRESHOLD, conversion_utils.py:70 */
  val SpacedRatioOcrTrigger = 0.04

  /** One extracted document. `suspect_repaired` is always 0: no payload
    * yields the second table read the suspect-cell merge needs (see
    * [[extractOne]]); the column stays so the output schema is unchanged. */
  case class ExtractedRow(
      url: String,
      bucket: Int,
      markdown: String,
      text: String,
      lang: String,
      page_count: Int,
      item_count: Int,
      table_count: Int,
      changed_cells: Int,
      removed_items: Int,
      md_chars: Long,
      html_bytes: Long,
      backend: String,
      ocr_retried: Boolean,
      ocr_accepted: Boolean,
      spacing_fixed: Int,
      suspect_repaired: Int)

  /** Payload starts with the `%PDF-` header. */
  private def isPdf(bytes: Array[Byte]): Boolean =
    bytes.length >= 5 && bytes(0) == '%' && bytes(1) == 'P' && bytes(2) == 'D' &&
      bytes(3) == 'F' && bytes(4) == '-'

  /** DoclingDocument JSON payload (the reference's --export-json artifact):
    * starts with '{' and declares the docling schema somewhere in its head.
    * 4 KB covers key-reordered serializations; a pathological export with
    * megabytes before schema_name would fall through to the HTML tokenizer
    * (no crash, garbage item tree) — acceptable for a sniff. */
  private def isDoclingJson(bytes: Array[Byte]): Boolean = {
    if (bytes.length < 16 || bytes(0) != '{') return false
    val head = new String(bytes, 0, math.min(bytes.length, 4096),
      java.nio.charset.StandardCharsets.UTF_8)
    head.contains("\"schema_name\"")
  }

  /** spaced_ratio over non-TOC table cells (conversion_utils.py:367-372):
    * the reference derives it from audit_doc_vs_markdown's counters, which
    * skip TOC-like tables (audit_utils.py:296-302) — a TOC-heavy document
    * must not spuriously trip the OCR retry or skew the halved-ratio
    * acceptance rule. The audit's damage fold over the table items only. */
  private def spacedCellRatio(doc: Doc): Double = {
    val d = graft.audit.AuditAggregator.damage(doc.items.iterator.filter(_.table.nonEmpty))
    if (d.totalTableCells > 0) d.spacedTableCells.toDouble / d.totalTableCells else 0.0
  }

  /** Parse + transform + render one document. Pure; called per row inside
    * mapPartitions. The reference's conversion decision flow
    * (conversion_utils.py:290-517), re-expressed per-row. Each payload kind
    * takes one branch and reads its bytes once:
    *
    *   docling JSON — ingest the externally-parsed tree (no glyph channel
    *       rides along, so no spacing repair).
    *   HTML — one parse serves every config view:
    *     [a] backend select — page-1 quality probe (auto): a perfect
    *         standard score short-circuits (argmax with first-wins ties
    *         can't change), so the aggressive view is derived only for
    *         damaged documents.
    *     [c] OCR auto-retry on chars_per_page < 200 or spaced_ratio >= 0.04,
    *         accepted when it halves the spaced ratio or recovers >1.2x text.
    *   PDF — one read of the file's pages feeds the layout and
    *     [d] spacing-fix routing — detect damaged pages, repair flagged
    *         cells/items from the same read's glyphs (`repairDoc`).
    *   [f] structural/cleaning passes in reference order + markdown render.
    *
    * The reference's suspect-cell OCR merge (conversion_utils.py:480-488)
    * needs a second, different table read, and no payload yields one: the
    * HTML OCR view shares the parse's table items, so the merge could
    * replace nothing. It runs on ingested two-channel trees through
    * `DocTransforms.mergeTableCellsWithOcr` (q37) instead.
    */
  def extractOne(url: String, htmlBytes: Array[Byte], lang: String,
                 bucket: Int, opts: ExtractOptions = ExtractOptions()): ExtractedRow = {
    // reject unknown modes loudly — a typo'd mode must not silently run "off"
    require(opts.ocrMode == "off" || opts.ocrMode == "auto" || opts.ocrMode == "on",
      s"unknown ocrMode '${opts.ocrMode}' (expected off|auto|on)")
    var backend = "pdf-layout"
    var ocrRetried = false
    var ocrAccepted = false
    var spacingFixed = 0

    val parsed: Doc =
      if (isDoclingJson(htmlBytes)) {
        backend = "docling-json"
        restrictPages(graft.sources.DoclingJsonIngest.parse(
          new String(htmlBytes, java.nio.charset.StandardCharsets.UTF_8), url), opts)
      } else if (isPdf(htmlBytes)) {
        // OCR retry is a no-op for the PDF path: our parse IS the glyph read,
        // so recovery happens through [d]'s glyph reconstruction instead
        val pages = PdfDoc.readPages(htmlBytes)
        val laidOut = restrictPages(PdfLayout.layout(url, pages), opts)
        if (!opts.spacingFix) laidOut
        else {
          // [d] spacing-fix routing (conversion_utils.py:400-478); the glyph
          // map is built only for documents with flagged pages
          val (fixed, report) = repairDoc(laidOut, PdfDoc.glyphsOf(pages))
          spacingFixed = report.tableCells + report.textItems
          fixed
        }
      } else {
        // the standard/aggressive/ocr views differ only in the boilerplate
        // thresholding of captured block meta, so the probe and the OCR
        // retry derive views allocation-light (applyConfig is an array map)
        val detailed = HtmlExtract.parseDetailed(url,
          new String(htmlBytes, java.nio.charset.StandardCharsets.UTF_8))
        def view(cfg: HtmlExtract.ParseConfig): Doc = restrictPages(
          HtmlExtract.applyConfig(detailed, cfg.linkDensityThreshold, cfg.minContentChars), opts)
        if (opts.ocrMode == "on") {
          // forced full-page OCR (conversion_utils.py:357-358): the keep-
          // everything view unconditionally — no probe, no retry bookkeeping
          backend = HtmlExtract.ParseConfig.Ocr.name
          view(HtmlExtract.ParseConfig.Ocr)
        } else {
          val std = SpacingFix.Backends.head
          var doc = view(std)
          backend = std.name
          if (opts.backendAuto) {
            // probe shortcut: scoring is capped at 100 and Python max keeps
            // the first argmax, so a perfect standard page-1 always wins —
            // only sub-100 documents score the aggressive view
            val stdScore = SpacingFix.probePage1Score(doc)
            if (stdScore < 100) {
              val agg = SpacingFix.Backends(1)
              val aggDoc = view(agg)
              if (SpacingFix.probePage1Score(aggDoc) > stdScore) {
                doc = aggDoc
                backend = agg.name
              }
            }
          }
          if (opts.ocrMode == "auto") {
            val text = MarkdownRender.renderPlainText(doc)
            val charsPerPage = text.length.toDouble / math.max(doc.pages.length, 1)
            val ratio = spacedCellRatio(doc)
            if (charsPerPage < CharsPerPageOcrTrigger || ratio >= SpacedRatioOcrTrigger) {
              ocrRetried = true
              val ocr = view(HtmlExtract.ParseConfig.Ocr)
              // acceptance: conversion_utils.py:387-398
              if (spacedCellRatio(ocr) < ratio * 0.5 ||
                  MarkdownRender.renderPlainText(ocr).length > text.length * 1.2) {
                doc = ocr
                ocrAccepted = true
              }
            }
          }
          doc
        }
      }

    val (doc, counters) = DocTransforms.applyAll(parsed)
    val md = MarkdownRender.postProcess(MarkdownRender.render(doc))
    val text = MarkdownRender.renderPlainText(doc)
    ExtractedRow(
      url = url,
      bucket = bucket,
      markdown = md,
      text = text,
      lang = lang,
      page_count = doc.pages.length,
      item_count = doc.items.length,
      table_count = doc.items.count(_.table.nonEmpty),
      changed_cells = counters.getOrElse("cleaned_cells", 0) +
        counters.getOrElse("normalized_headers", 0) +
        counters.getOrElse("normalized_currencies", 0),
      removed_items = counters.getOrElse("removed_dates", 0) +
        counters.getOrElse("removed_axis_text", 0),
      md_chars = md.length.toLong,
      html_bytes = htmlBytes.length.toLong,
      backend = backend,
      ocr_retried = ocrRetried,
      ocr_accepted = ocrAccepted,
      spacing_fixed = spacingFixed,
      suspect_repaired = 0)
  }

  /** Spacing-fix routing + glyph reconstruction (conversion_utils.py:400-478):
    * detect damaged pages, then repair their flagged cells/items from the
    * page glyphs. `glyphs` is evaluated only when some page is flagged.
    * Runs on the PDF branch of [[extractOne]] and on externally-parsed
    * trees (e.g. docling JSON) whose text layer diverges from the page's
    * glyph geometry — the reference's actual shape. */
  def repairDoc(doc: Doc, glyphs: => Map[Int, Seq[graft.textkit.SpacingRepair.Glyph]])
      : (Doc, SpacingFix.Report) = {
    val pages = SpacingFix.detectSpacingPages(doc)
    if (pages.exists(_.isEmpty)) (doc, SpacingFix.Report(0, 0, 0))
    else SpacingFix.fixSpacedItems(doc, glyphs, pages)
  }

  /** Full two-channel repair against a real PDF text layer: spacing repair
    * (repairDoc) plus empty/suspect table-cell restoration from the page's
    * glyphs (SpacingFix.fillCellsFromGlyphs) — the q48 shape running on real
    * divergence: an externally-parsed tree whose table layer dropped content
    * the page still carries. Returns (repaired doc, spacing report, cells
    * filled). */
  def repairDocWithTextLayer(doc: Doc,
      glyphs: Map[Int, Seq[graft.textkit.SpacingRepair.Glyph]])
      : (Doc, SpacingFix.Report, Int) = {
    val (spacingFixed, report) = repairDoc(doc, glyphs)
    val (filled, n) = SpacingFix.fillCellsFromGlyphs(spacingFixed, glyphs)
    (filled, report, n)
  }

  /** Input projection + bucket assignment (codegen'd xxhash64, no UDF). */
  def withBucket(pages: DataFrame, numBuckets: Int): DataFrame =
    pages.select(col("url"), col("html"), col("lang"),
      pmod(xxhash64(col("url")), lit(numBuckets)).cast("int").as("bucket"))

  /** Deletes a directory and everything under it. */
  private[graft] def deleteTree(dir: String): Unit = {
    val walk = Files.walk(Paths.get(dir))
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
    finally walk.close()
  }

  /** What a commit's write tasks need to write ExtractedRows without their
    * `bucket` column: the encoder's serializer expressions for the other
    * fields, and the Parquet writer configuration that Spark's own Parquet
    * write sets for that schema and session (row schema, compression codec,
    * legacy format, timestamp type, field ids). Built once on the driver;
    * the closure ships a dozen keys, not the session's Hadoop
    * configuration. */
  private[graft] case class BucketWriterSetup(serializer: Seq[Expression],
                                             conf: Map[String, String])

  /** The encoders of [[extract]]'s input and output rows and of the
    * commit's bucket stats, derived by Scala reflection once per JVM rather
    * than on every commit. */
  private lazy val InputEncoder = ExpressionEncoder[(String, Array[Byte], String, Int)]()
  private lazy val RowEncoder = ExpressionEncoder[ExtractedRow]()
  private lazy val StatsEncoder = ExpressionEncoder[(Int, Long, Long, Long, Long, Long)]()

  private[graft] def bucketWriterSetup(spark: SparkSession): BucketWriterSetup = {
    val enc = RowEncoder
    val (fields, exprs) = enc.schema.zip(enc.serializer).filter(_._1.name != "bucket").unzip
    val job = Job.getInstance(new Configuration(false))
    new ParquetFileFormat().prepareWrite(spark, job, Map.empty, StructType(fields))
    BucketWriterSetup(exprs, job.getConfiguration.asScala.map(e => e.getKey -> e.getValue).toMap)
  }

  /** parquet-hadoop's writer over a java.nio file, fed by Spark's own
    * InternalRow write support. [[writeBuckets]] turns dictionary encoding
    * off for `url`, `markdown` and `text`: every value in them is unique, so
    * a dictionary only costs the hashing of each value before the writer
    * falls back to plain encoding. `lang` and `backend` keep it. */
  private class RowWriterBuilder(file: Path)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](new LocalOutputFile(file)) {
    override protected def self(): RowWriterBuilder = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }

  /** One write task's share of a commit: writes `rows` into
    * `dataDir/bucket=N/part-<snapshot><codec ext>.parquet`, one file per
    * bucket the rows hold, and returns one
    * `(bucket, docs, md_chars, changed_cells, removed_items, elapsed_ms)`
    * per bucket written. A bucket's `elapsed_ms` is the time spent pulling,
    * extracting and writing its rows, plus closing and publishing its file.
    *
    * Each bucket's writer fills a hidden `.part-<snapshot>-<attempt>.tmp`
    * (Spark's reader skips names starting with `.`); once `rows` is done,
    * each is closed and atomically moved onto its final name, replacing
    * the file a retried or speculative attempt may have published. If
    * anything throws, the task deletes its temp files and rethrows. One
    * writer stays open per bucket, so a task buffers up to one row group per
    * bucket it holds. */
  private[graft] def writeBuckets(rows: Iterator[ExtractedRow], dataDir: String,
      snapshot: Long, attempt: Long, setup: BucketWriterSetup)
      : Iterator[(Int, Long, Long, Long, Long, Long)] = {
    val conf = new Configuration(false)
    setup.conf.foreach { case (k, v) => conf.set(k, v) }
    val codec = CompressionCodecName.fromConf(conf.get(ParquetOutputFormat.COMPRESSION))
    val toRow = new ExpressionEncoder.Serializer[ExtractedRow](setup.serializer)
    final class Bucket(val id: Int) {
      val dir: Path = Paths.get(dataDir, s"bucket=$id")
      Files.createDirectories(dir)
      val tmp: Path = dir.resolve(s".part-$snapshot-$attempt.tmp")
      val writer: ParquetWriter[InternalRow] = new RowWriterBuilder(tmp).withConf(conf)
        .withCompressionCodec(codec).withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
        .withDictionaryEncoding("url", false).withDictionaryEncoding("markdown", false)
        .withDictionaryEncoding("text", false).build()
      var closed = false
      var docs, mdChars, changedCells, removedItems, nanos = 0L
      def close(): Unit = if (!closed) { closed = true; writer.close() }
    }
    val open = scala.collection.mutable.LinkedHashMap.empty[Int, Bucket]
    try {
      var t0 = System.nanoTime()
      while (rows.hasNext) {
        val r = rows.next()
        val b = open.getOrElseUpdate(r.bucket, new Bucket(r.bucket))
        b.writer.write(toRow(r))
        b.docs += 1
        b.mdChars += r.md_chars
        b.changedCells += r.changed_cells
        b.removedItems += r.removed_items
        val t1 = System.nanoTime()
        b.nanos += t1 - t0
        t0 = t1
      }
      open.values.map { b =>
        val t1 = System.nanoTime()
        b.close()
        Files.move(b.tmp, b.dir.resolve(s"part-$snapshot${codec.getExtension}.parquet"),
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
        (b.id, b.docs, b.mdChars, b.changedCells, b.removedItems,
          (b.nanos + System.nanoTime() - t1) / 1000000)
      }.toList.iterator
    } catch {
      case e: Throwable =>
        for (b <- open.values) {
          try b.close() catch { case s: Throwable => e.addSuppressed(s) }
          Files.deleteIfExists(b.tmp)
        }
        throw e
    }
  }

  /** Full extraction over a pages DataFrame (url, warc_ts, html, text, lang).
    * `skipBuckets` prunes already-committed buckets before the parse stage.
    *
    * `shuffle = true` co-locates each bucket in one task before the parse, so
    * the task that extracts a bucket can write its one file (the layout that
    * makes resume partition-granular, see [[extractAndCommit]]). The
    * exchange has min(numBuckets, WriteTasksPerCore * defaultParallelism)
    * partitions, where
    * defaultParallelism is the core count registered when this plan is built
    * (on a cluster still registering executors, fewer than it will have).
    * `shuffle = false` runs the parse in the scan stage with no exchange, for
    * callers that do not write by bucket. */
  def extract(spark: SparkSession, pages: DataFrame,
              numBuckets: Int = DefaultBuckets,
              skipBuckets: Set[Int] = Set.empty,
              shuffle: Boolean = true,
              opts: ExtractOptions = ExtractOptions()): Dataset[ExtractedRow] = {
    import spark.implicits._
    val bucketed = withBucket(pages, numBuckets)
    val pruned =
      if (skipBuckets.isEmpty) bucketed
      else bucketed.filter(!$"bucket".isin(skipBuckets.toSeq: _*))
    val placed =
      if (shuffle)
        pruned.repartition(
          math.min(numBuckets, WriteTasksPerCore * spark.sparkContext.defaultParallelism),
          $"bucket")
      else pruned
    placed
      .as(InputEncoder)
      .mapPartitions { it =>
        // batched per-partition loop: compiled regex/state lives in JVM-static
        // textkit objects, so per-row cost is parse + transforms only
        it.map { case (url, html, lang, bucket) =>
          extractOne(url, html, lang, bucket, opts)
        }
      }(RowEncoder)
  }

  /** Extraction + resumable bucketed write with a lineage manifest.
    * Returns (snapshotId, total docs committed in this run).
    *
    * Runs `extract` with the bucket exchange: the write stage has
    * min(numBuckets, WriteTasksPerCore * defaultParallelism) tasks (cores
    * registered when the plan is built), and each bucket is written by
    * exactly one of them ([[writeBuckets]]), so every commit adds one file,
    * `data/bucket=N/part-<snapshot id>.snappy.parquet` under the default
    * codec, per bucket it extracts, and a resumed run skips whole buckets.
    * Each task returns its buckets' stats and the driver collects them:
    * one result per partition, so the stats are exactly-once and the
    * commit never reads back the data it wrote.
    *
    * `outDir` must be a local or POSIX-mounted path that the driver and
    * every executor see: the manifests, the orphan cleanup and the data
    * files are all written through java.nio, with no Hadoop FileSystem. */
  def extractAndCommit(spark: SparkSession, pages: DataFrame, outDir: String,
                       numBuckets: Int = DefaultBuckets): (String, Long) = {
    import graft.lineage.Lineage
    // one manifest read serves the resume set, the carried-over stats and
    // the id this commit's data files and manifest both get
    val latest = Lineage.latest(outDir)
    val prevStats = latest.fold(Seq.empty[Lineage.PartitionStat])(_.partitions)
    val done = prevStats.map(_.bucket).toSet
    val snapshot = Lineage.nextSnapshotId(latest)

    // crash safety: a previous run may have written bucket files and died
    // before committing the manifest — those buckets will be re-extracted, so
    // their orphaned files must go first or they would duplicate rows
    val dataDir = Paths.get(outDir, "data").toAbsolutePath
    if (Files.exists(dataDir)) {
      val stream = Files.list(dataDir)
      try {
        stream.iterator().asScala.foreach { p =>
          val name = p.getFileName.toString
          if (name.startsWith("bucket=")) {
            val b = name.stripPrefix("bucket=").toInt
            if (!done.contains(b)) deleteTree(p.toString) // uncommitted leftovers
          }
        }
      } finally stream.close()
    }

    val setup = bucketWriterSetup(spark)
    val data = dataDir.toString
    val written = extract(spark, pages, numBuckets, skipBuckets = done)
      .mapPartitions(rows => writeBuckets(rows, data, snapshot,
        org.apache.spark.TaskContext.get().taskAttemptId(), setup))(StatsEncoder)
      .collect()
    require(written.map(_._1).distinct.length == written.length,
      s"a bucket was written by more than one task: ${written.map(_._1).sorted.toSeq}")

    val merged = (prevStats ++ written.map { case (b, docs, mdChars, _, _, ms) =>
      Lineage.PartitionStat(b, docs, mdChars, ms) }).sortBy(_.bucket)
    val docs = written.map(_._2).sum
    Lineage.commit(outDir, Lineage.Manifest(snapshot, numBuckets,
      pages.schema.map(_.name).mkString(",") +
        s"; observed: docs=$docs changed_cells=${written.map(_._4).sum}" +
        s" removed_items=${written.map(_._5).sum}",
      merged))
    (snapshot.toString, docs)
  }
}
