package graft.extract

import graft.model._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The end-to-end extraction pipeline as Catalyst-planned stages
  * (SURVEY.md §3.1 Spark lifecycle):
  *
  *   pages scan (url/html/lang pruned at the reader) -> bucket column
  *   (xxhash64(url) mod B, computed relationally so resume filters prune
  *   BEFORE the expensive parse) -> repartition on bucket into
  *   min(B, WriteTasksPerCore x cores) tasks -> mapPartitions parse (batched
  *   HTML tokenizer) -> typed doc-transform pass (pure item-array rewrites,
  *   reference order) -> markdown render + post-chain -> bucketed write with
  *   lineage commit.
  *
  * Shuffle surface: exactly one exchange (the bucket repartition, which is
  * also the resume/lineage partition). Each bucket lands whole in one task;
  * a task carries several buckets when buckets outnumber the partitions. All
  * transforms are row-local; giant documents cost per-row only.
  */
object Pipeline {
  val DefaultBuckets = 64

  /** Cap on the bucket exchange's partitions per core. Every write task pays
    * a fixed setup (deserializing the job's Hadoop configuration, generating
    * its projections), so fewer tasks than buckets amortize it; several
    * tasks per core let the scheduler even out bucket-heavy tasks. */
  val WriteTasksPerCore = 4

  /** Conversion knobs mirroring the reference CLI defaults
    * (cli.py:88-140): backend auto-probe ON, ocr_mode OFF, glyph
    * spacing-fix ON. `ocrMode = "auto"` enables the chars-per-page /
    * spaced-ratio retry triggers (conversion_utils.py:357-398). */
  case class ExtractOptions(
      backendAuto: Boolean = true,
      ocrMode: String = "off",
      spacingFix: Boolean = true,
      suspectRepair: Boolean = true,
      /** page_range=(a,b), 1-based inclusive (cli.py:19-31,
        * conversion_utils.py:348-353): convert only those pages. */
      pageRange: Option[(Int, Int)] = None,
      /** max_num_pages analog: convert only the first N pages. */
      maxPages: Option[Int] = None,
      /** picture render mode: placeholder (reference default) | referenced
        * | embedded — see MarkdownRender.ImageMode. */
      imageMode: String = MarkdownRender.ImageMode.Placeholder,
      /** use the neighbor-aware Boilerpipe NumWordsRulesClassifier
        * (HtmlExtract.applyBoilerpipe) instead of the per-block thresholds.
        * Off by default: the reference semantics (and the probe/OCR config
        * views) are defined over the threshold path. */
      boilerpipe: Boolean = false)

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

  /** The "OCR" parse config for HTML payloads: keep everything (no
    * boilerplate thresholds), the analog of a forced full-page OCR re-read
    * that recovers text the first pass dropped. */
  val OcrParseConfig: SpacingFix.ParseConfig = SpacingFix.ParseConfig("ocr", 2.0, 0)
  val CharsPerPageOcrTrigger = 200.0
  /** SPACED_CELL_RATIO_THRESHOLD, conversion_utils.py:70 */
  val SpacedRatioOcrTrigger = 0.04

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

  /** Parse + transform + render one document. Pure; called per row inside
    * mapPartitions. */
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

  /** True when any table payload differs by reference between the two docs
    * (derived config views share table items, so this is O(items)). */
  private def tablesDiffer(a: Doc, b: Doc): Boolean = {
    val ta = a.items.iterator.flatMap(_.table).toArray
    val tb = b.items.iterator.flatMap(_.table).toArray
    ta.length != tb.length || ta.zip(tb).exists { case (x, y) => !(x eq y) }
  }

  /** spaced_ratio over non-TOC table cells (conversion_utils.py:367-372):
    * the reference derives it from audit_doc_vs_markdown's counters, which
    * skip TOC-like tables (audit_utils.py:296-302) — a TOC-heavy document
    * must not spuriously trip the OCR retry or skew the halved-ratio
    * acceptance rule. */
  private def spacedCellRatio(doc: Doc): Double = {
    var spaced = 0L; var total = 0L
    for (t <- doc.items.flatMap(_.table) if !graft.audit.Audit.isTocLikeTable(t);
         c <- t.cells) {
      total += 1
      if (graft.textkit.Predicates.isSpacedText(c.text)) spaced += 1
    }
    if (total > 0) spaced.toDouble / total else 0.0
  }

  /** The reference's full conversion decision flow
    * (conversion_utils.py:290-517), re-expressed per-row:
    *
    *   [a] backend select — page-1 quality probe (auto): a perfect standard
    *       score short-circuits (argmax with first-wins ties can't change),
    *       so the second parse is paid only for damaged documents.
    *   [c] OCR auto-retry on chars_per_page < 200 or spaced_ratio >= 0.04,
    *       accepted when it halves the spaced ratio or recovers >1.2x text.
    *   [d] spacing-fix routing — detect damaged pages, repair flagged
    *       cells/items from glyph geometry (PDF payloads carry glyphs).
    *   [e] suspect-cell repair — lazily OCR-parse and merge when suspect
    *       currency cells survive.
    *   [f] structural/cleaning passes in reference order + markdown render.
    */
  def extractOne(url: String, htmlBytes: Array[Byte], lang: String,
                 bucket: Int, opts: ExtractOptions = ExtractOptions()): ExtractedRow = {
    // reject unknown modes loudly — a typo'd mode must not silently run "off"
    require(opts.ocrMode == "off" || opts.ocrMode == "auto" || opts.ocrMode == "on",
      s"unknown ocrMode '${opts.ocrMode}' (expected off|auto|on)")
    var backend = "pdf-layout"
    var ocrRetried = false
    var ocrAccepted = false
    var parsed: Doc = null
    var ocrDoc: Option[Doc] = None
    var glyphs: Map[Int, Seq[graft.textkit.SpacingRepair.Glyph]] = Map.empty

    var detailed: HtmlExtract.Parsed = null
    if (isDoclingJson(htmlBytes)) {
      // externally-parsed tree (reference --export-json payload): ingest and
      // run the same transform battery; glyph repair applies only when a
      // glyph channel rides along (repairDoc), so routing detection still
      // runs but repair is a no-op here
      parsed = restrictPages(graft.sources.DoclingJsonIngest.parse(
        new String(htmlBytes, java.nio.charset.StandardCharsets.UTF_8), url), opts)
      backend = "docling-json"
    } else if (!isPdf(htmlBytes)) {
      // ONE parse serves every config: the standard/aggressive/ocr views
      // differ only in the boilerplate thresholding of captured block meta,
      // so the probe and the OCR retry re-derive views allocation-light
      // instead of re-parsing (applyConfig is an array map)
      val html = new String(htmlBytes, java.nio.charset.StandardCharsets.UTF_8)
      detailed = HtmlExtract.parseDetailed(url, html)
      if (opts.boilerpipe) {
        // classifier mode: one view, no probe/OCR re-thresholding (those
        // config knobs are parameters of the threshold path)
        parsed = restrictPages(HtmlExtract.applyBoilerpipe(detailed), opts)
        backend = "boilerpipe"
      } else if (opts.ocrMode == "on") {
        // forced full-page OCR (conversion_utils.py:357-358): the keep-
        // everything parse unconditionally — no probe, no retry bookkeeping,
        // and no standard parse paid first
        parsed = restrictPages(HtmlExtract.applyConfig(detailed,
          OcrParseConfig.linkDensityThreshold, OcrParseConfig.minContentChars), opts)
        backend = OcrParseConfig.name
      } else {
        val std = SpacingFix.Backends.head
        parsed = restrictPages(
          HtmlExtract.applyConfig(detailed, std.linkDensityThreshold, std.minContentChars), opts)
        backend = std.name
      }
      if (!opts.boilerpipe && opts.ocrMode != "on" && opts.backendAuto) {
        // probe shortcut: scoring is capped at 100 and Python max keeps the
        // first argmax, so a perfect standard page-1 always wins — only
        // sub-100 documents score the aggressive view
        val stdScore = SpacingFix.probePage1Score(parsed)
        if (stdScore < 100) {
          val agg = SpacingFix.Backends(1)
          val aggDoc = restrictPages(
            HtmlExtract.applyConfig(detailed, agg.linkDensityThreshold, agg.minContentChars), opts)
          if (SpacingFix.probePage1Score(aggDoc) > stdScore) {
            parsed = aggDoc
            backend = agg.name
          }
        }
      }
      if (!opts.boilerpipe && opts.ocrMode == "auto") {
        val text = MarkdownRender.renderPlainText(parsed)
        val charsPerPage = text.length.toDouble / math.max(parsed.pages.length, 1)
        val ratio = spacedCellRatio(parsed)
        if (charsPerPage < CharsPerPageOcrTrigger || ratio >= SpacedRatioOcrTrigger) {
          ocrRetried = true
          val ocr = restrictPages(HtmlExtract.applyConfig(detailed,
            OcrParseConfig.linkDensityThreshold, OcrParseConfig.minContentChars), opts)
          ocrDoc = Some(ocr)
          val ocrRatio = spacedCellRatio(ocr)
          // acceptance: conversion_utils.py:387-398
          if (ocrRatio < ratio * 0.5) { parsed = ocr; ocrAccepted = true }
          else if (MarkdownRender.renderPlainText(ocr).length > text.length * 1.2) {
            parsed = ocr; ocrAccepted = true
          }
        }
      }
    } else {
      parsed = restrictPages(PdfLayout.buildDoc(url, htmlBytes), opts)
      // OCR retry is a no-op for the PDF path: our parse IS the glyph read,
      // so recovery happens through [d]'s glyph reconstruction instead;
      // glyphs are extracted lazily there, only for flagged documents
    }

    // [d] spacing-fix routing (conversion_utils.py:400-478); glyph
    // extraction is paid only for documents with flagged pages
    var spacingFixed = 0
    if (opts.spacingFix && isPdf(htmlBytes)) {
      val pagesToFix = SpacingFix.detectSpacingPages(parsed)
      if (!pagesToFix.exists(_.isEmpty)) {
        glyphs = PdfDoc.extractGlyphsAuto(htmlBytes)
        val (fixed, report) = SpacingFix.fixSpacedItems(parsed, glyphs, pagesToFix)
        parsed = fixed
        spacingFixed = report.tableCells + report.textItems
      }
    }

    // [e] suspect-cell OCR repair (conversion_utils.py:480-488). The merge
    // can only fire when the OCR channel is a genuinely DIFFERENT read: for
    // HTML payloads the OCR view is a relabeling of the same parse, so its
    // table cells are reference-identical and shouldReplaceNumericCell(t, t)
    // is false for every cell — a provable no-op we skip instead of paying
    // (an external two-channel tree goes through repairDoc + merge instead)
    var suspectRepaired = 0
    if (opts.suspectRepair) {
      val distinctOcr = ocrDoc.filter(o => tablesDiffer(parsed, o))
      if (distinctOcr.nonEmpty && DocTransforms.countSuspectTableCellsFast(parsed) > 0) {
        val (merged, n) = DocTransforms.mergeTableCellsWithOcr(parsed, distinctOcr.get,
          spacedMode = false)
        parsed = merged
        suspectRepaired = n
      }
    }

    val (doc, counters) = DocTransforms.applyAll(parsed)
    val md = MarkdownRender.postProcess(
      MarkdownRender.render(doc, imageMode = opts.imageMode))
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
      suspect_repaired = suspectRepaired)
  }

  /** Repair stage for externally-parsed item trees — the reference's actual
    * shape: a Docling-style tree whose text layer diverges from the page's
    * glyph geometry (conversion_utils.py:445-478). Our own PDF parse is
    * glyph-direct, so this entry point is where ingested trees (e.g. docling
    * JSON) get the same routing + reconstruction. */
  def repairDoc(doc: Doc, glyphs: Map[Int, Seq[graft.textkit.SpacingRepair.Glyph]])
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

  /** Per-bucket (docCount, bytes) accumulator: rides the commit's write job
    * so lineage stats need NO post-write rescan of the output. Exactly-once
    * because `extractAndCommit` updates it in a map directly under the write,
    * inside the write's result stage — Spark applies a result task's
    * accumulator updates once per successfully-committed partition. */
  private class BucketStatsAcc extends org.apache.spark.util.AccumulatorV2[
      (Int, Long), Map[Int, (Long, Long)]] {
    private val m = scala.collection.mutable.HashMap.empty[Int, (Long, Long)]
    override def isZero: Boolean = m.isEmpty
    override def copy(): BucketStatsAcc = {
      val c = new BucketStatsAcc; m.foreach { case (k, v) => c.m(k) = v }; c
    }
    override def reset(): Unit = m.clear()
    override def add(v: (Int, Long)): Unit = {
      val cur = m.getOrElse(v._1, (0L, 0L))
      m(v._1) = (cur._1 + 1, cur._2 + v._2)
    }
    override def merge(other: org.apache.spark.util.AccumulatorV2[
        (Int, Long), Map[Int, (Long, Long)]]): Unit =
      other.value.foreach { case (b, (n, bytes)) =>
        val cur = m.getOrElse(b, (0L, 0L))
        m(b) = (cur._1 + n, cur._2 + bytes)
      }
    override def value: Map[Int, (Long, Long)] = m.toMap
  }

  /** Full extraction over a pages DataFrame (url, warc_ts, html, text, lang).
    * `skipBuckets` prunes already-committed buckets before the parse stage.
    *
    * `shuffle = true` co-locates each bucket in one task before the parse, so
    * a bucketed write emits one file per bucket (the layout that makes resume
    * partition-granular). The exchange has
    * min(numBuckets, WriteTasksPerCore * defaultParallelism) partitions, where
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
      .as[(String, Array[Byte], String, Int)]
      .mapPartitions { it =>
        // batched per-partition loop: compiled regex/state lives in JVM-static
        // textkit objects, so per-row cost is parse + transforms only
        it.map { case (url, html, lang, bucket) =>
          extractOne(url, html, lang, bucket, opts)
        }
      }
  }

  /** Extraction + resumable bucketed write with a lineage manifest.
    * Returns (snapshotId, total docs committed in this run).
    *
    * Runs `extract` with the bucket exchange: the write stage has
    * min(numBuckets, WriteTasksPerCore * defaultParallelism) tasks (cores
    * registered when the plan is built), each bucket is written by exactly
    * one of them, so every commit adds one file per bucket dir and a resumed
    * run skips whole buckets. Stats are exactly-once because the
    * accumulating map runs inside the write's result stage. */
  def extractAndCommit(spark: SparkSession, pages: DataFrame, outDir: String,
                       numBuckets: Int = DefaultBuckets): (String, Long) = {
    import spark.implicits._
    val done = graft.lineage.Lineage.committedBuckets(outDir)

    // crash safety: a previous run may have written bucket files and died
    // before committing the manifest — those buckets will be re-extracted, so
    // their orphaned files must go first or append would duplicate rows
    val dataDir = java.nio.file.Paths.get(outDir, "data")
    if (java.nio.file.Files.exists(dataDir)) {
      val stream = java.nio.file.Files.list(dataDir)
      try {
        stream.iterator().asScala.foreach { p =>
          val name = p.getFileName.toString
          if (name.startsWith("bucket=")) {
            val b = name.stripPrefix("bucket=").toInt
            if (!done.contains(b)) {
              // uncommitted leftovers: remove recursively
              val walk = java.nio.file.Files.walk(p)
              try walk.sorted(java.util.Comparator.reverseOrder())
                .forEach(f => java.nio.file.Files.deleteIfExists(f))
              finally walk.close()
            }
          }
        }
      } finally stream.close()
    }

    val t0 = System.nanoTime()
    // per-bucket stats accumulate ON the write job itself (BucketStatsAcc) —
    // commit never reads back $outDir/data, which at 100 TB would be an
    // avoidable full scan of the new output
    val statsAcc = new BucketStatsAcc
    spark.sparkContext.register(statsAcc, "graft-bucket-stats")
    // the only operator between this map and the write is `observe`, so the
    // map runs in the write's result stage, after the bucket exchange
    val extracted = extract(spark, pages, numBuckets, skipBuckets = done)
      .map { r => statsAcc.add((r.bucket, r.md_chars)); r }
    // observed metrics ride the job (audit_utils fix-report counters analog,
    // SURVEY §2.4): no second pass, no accumulators to merge by hand
    val obs = org.apache.spark.sql.Observation(s"extract-commit")
    extracted.toDF()
      .observe(obs, count(lit(1)).as("docs"), sum($"changed_cells").as("changed_cells"),
        sum($"removed_items").as("removed_items"), sum($"md_chars").as("md_chars"))
      .write.mode("append").partitionBy("bucket").parquet(s"$outDir/data")
    val observed = obs.get
    val elapsedMs = (System.nanoTime() - t0) / 1000000

    // incremental stats: the just-written buckets come from the accumulator,
    // merged with the previous manifest (no rescan of any data at commit)
    val prevStats: Map[Int, graft.lineage.Lineage.PartitionStat] =
      graft.lineage.Lineage.snapshots(outDir).lastOption
        .map(_._2.map(s => s.bucket -> s).toMap).getOrElse(Map.empty)
        .filter { case (b, _) => done.contains(b) }
    val newStats = statsAcc.value.toSeq.sortBy(_._1)
      .map { case (b, (n, bytes)) => graft.lineage.Lineage.PartitionStat(b, n, bytes, elapsedMs) }

    val merged = (prevStats.values ++ newStats).toSeq.sortBy(_.bucket)
    val newDocs = newStats.map(_.docCount).sum
    val snapshotId = graft.lineage.Lineage.commit(outDir, numBuckets, merged,
      inputDesc = {
        // sum() over zero rows observes as null (key present) — normalize
        def met(k: String): Long =
          observed.get(k).flatMap(v => Option(v)).map(_.asInstanceOf[Number].longValue)
            .getOrElse(0L)
        pages.schema.map(_.name).mkString(",") +
          s"; observed: docs=${met("docs")} changed_cells=${met("changed_cells")}" +
          s" removed_items=${met("removed_items")}"
      })
    (snapshotId, newDocs)
  }
}
