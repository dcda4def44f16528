package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.extract.{HtmlExtract, DocTransforms, MarkdownRender, Pipeline}
import graft.textkit._
import graft.sources.ReferenceExamples

/** Extraction-domain operators exposed as queries. These are the engine's
  * own semantics (HTML parse, transform battery, markdown render, audit,
  * glyph spacing repair, multimodal plumbing). Every query here is
  * oracle-checkable: outputs are either (a) closed-form recomputable in
  * DuckDB from the driver parquet (the synthetic wrappers below are built so
  * item/page/length counts have exact closed forms), or (b) engine-verified
  * invariants that must equal an exact constant (the reference's own
  * acceptance invariants: full token coverage, successful round trips).
  */
object ExtractOps {
  /** Shared wrapper scaffolding: every closed-form oracle depends on this
    * being byte-identical across the q30/q31/q39/q46 wrappers, so there is
    * exactly one copy. */
  private def htmlShell(docId: Long)(inner: StringBuilder => Unit): String = {
    val sb = new StringBuilder
    sb ++= "<html><head><title>doc</title><script>t()</script></head><body>"
    sb ++= "<nav><a href='/'>home</a> <a href='/a'>all</a> <a href='/b'>more</a></nav>"
    sb ++= s"""<div class="page" data-page-height="800">"""
    sb ++= s"<h1>Document $docId</h1>"
    inner(sb)
    sb ++= "</div><footer><a href='/t'>terms</a> <a href='/p'>privacy</a></footer></body></html>"
    sb.result()
  }

  /** Deterministic HTML wrapper for a driver-provided document row: the
    * text becomes paragraphs/headings, boilerplate noise is added, so the
    * full extraction stack runs over driver data.
    *
    * Structure (closed form used by the DuckDB oracles): with
    * W = words(text), P = ceil(W/12) paragraphs, H = floor(P/3) headings,
    * parsed items = nav + h1 + P + H + footer = 3 + P + H (the nav/footer
    * link blocks become furniture via the link-density rule), 1 page.
    */
  def htmlFromText(docId: Long, text: String, lang: String): String =
    htmlShell(docId)(sb => appendBody(sb, text, lang))

  /** Paragraphs of 12 words; every third group gets a heading. */
  private def appendBody(sb: StringBuilder, text: String, lang: String): Unit = {
    val words = text.split(" ")
    var i = 0
    var para = 0
    while (i < words.length) {
      val chunk = words.slice(i, i + 12).mkString(" ")
      if (para % 3 == 2) sb ++= s"<h2>Section ${para / 3 + 1} $lang</h2>"
      sb ++= s"<p>$chunk</p>"
      i += 12
      para += 1
    }
  }

  /** q31 wrapper: htmlFromText plus, for doc_id % 5 == 0, one constant 3x3
    * table (header + 2 numeric rows) right after the h1 — so the audit's
    * table/numeric-recall battery does real work with a closed-form oracle. */
  def htmlWithTable(docId: Long, text: String, lang: String): String =
    htmlShell(docId) { sb =>
      if (docId % 5 == 0)
        sb ++= ("<table><tr><th>metric</th><th>q1</th><th>q2</th></tr>" +
          "<tr><td>revenue</td><td>101</td><td>202</td></tr>" +
          "<tr><td>cost</td><td>11</td><td>22</td></tr></table>")
      appendBody(sb, text, lang)
    }

  /** q39 wrapper: htmlFromText plus, for doc_id % 4 == 0, three identical
    * low-link-density junk blocks of 14 chars. The standard parse config
    * (minContentChars=8) keeps them -> repeated-line quality penalty; the
    * aggressive config (minContentChars=16) drops them -> the probe must
    * pick "aggressive" for exactly these documents. */
  def htmlWithJunk(docId: Long, text: String, lang: String): String =
    htmlShell(docId) { sb =>
      // full 12-word chunks only: a short tail paragraph would be a "short
      // line" quality penalty and break the closed-form probe scores
      val words = text.split(" ")
      appendBody(sb, words.take(words.length / 12 * 12).mkString(" "), lang)
      if (docId % 4 == 0)
        for (_ <- 0 until 3) sb ++= "<p><a href='#'>b</a> uy item nowq</p>"
    }

  /** q36 wrapper: words in pages of 12, each page carrying 3 unique sentinel
    * tokens zq{doc}x{page}n{j} — per-page token coverage then has an exact
    * closed form when sentinels are dropped from the rendered side. */
  def htmlPaged(docId: Long, text: String): String = {
    val words = text.split(" ")
    val sb = new StringBuilder
    sb ++= "<html><body>"
    var p = 0
    while (p * 12 < words.length) {
      sb ++= """<div class="page" data-page-height="800">"""
      sb ++= s"<p>${words.slice(p * 12, p * 12 + 12).mkString(" ")}</p>"
      for (j <- 0 until 3) sb ++= s"<p>zq${docId}x${p + 1}n$j</p>"
      sb ++= "</div>"
      p += 1
    }
    sb ++= "</body></html>"
    sb.result()
  }

  /** q46 wrapper: htmlFromText plus, for doc_id % 4 == 0, a chart picture
    * whose region text rides the data-picture-text channel (the KPI_OCR
    * analog) — the caption pass must attach it as a caption item. */
  val KpiCaptionText = "PROFIT NET RON 42,92 MIL. (EUR 8,45 MIL.)"
  def htmlWithKpiPicture(docId: Long, text: String, lang: String): String =
    htmlShell(docId) { sb =>
      if (docId % 4 == 0)
        sb ++= s"""<img data-bbox="10,600,300,780" data-picture-text="$KpiCaptionText">"""
      appendBody(sb, text, lang)
    }

  /** KPI picture-caption flow (q46), end-to-end through the pipeline:
    * picture region text -> normalize -> isKpiText gate -> caption item ->
    * markdown. Closed-form oracle on the doc_id class. */
  def kpiCaptions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pages = srcDocs(s, dir).as[(Long, String, String)]
      .map { case (id, text, lang) =>
        (s"doc://$id", htmlWithKpiPicture(id, text, lang).getBytes("UTF-8"), text, lang)
      }
      .toDF("url", "html", "text", "lang")
    Pipeline.extract(s, pages, numBuckets = 16).toDF()
      .select($"url", $"item_count",
        $"markdown".contains(KpiCaptionText).as("caption_added"))
      .orderBy($"url")
  }

  private def srcDocs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"), col("lang"))

  /** Longest common subsequence over lines — the byte-identical-line parity
    * metric shared by q44 and ReferenceGoldenSpec (one copy so the spec's
    * floor and the oracle's pinned value cannot drift apart). */
  def lcsLines(a: Array[String], b: Array[String]): Int = {
    val prev = new Array[Int](b.length + 1)
    val cur = new Array[Int](b.length + 1)
    for (i <- 1 to a.length) {
      for (j <- 1 to b.length)
        cur(j) = if (a(i - 1) == b(j - 1)) prev(j - 1) + 1
                 else math.max(prev(j), cur(j - 1))
      System.arraycopy(cur, 0, prev, 0, b.length + 1)
    }
    prev(b.length)
  }

  /** Lossless-extraction invariant shared by q30/q43/q45: every source-text
    * token must appear in the rendered markdown. */
  private def coveredUdf = udf((md: String, srcText: String) =>
    Numbers.coverage(Numbers.tokenize(srcText), Numbers.tokenize(md).toSet) == 1.0)

  /** Flagship: full extraction pipeline over the documents table wrapped in
    * HTML. One shuffle (bucket repartition), parse in mapPartitions; the
    * `covered` invariant re-audits every output against its source text. */
  def extractDocuments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pages = srcDocs(s, dir)
      .as[(Long, String, String)]
      .map { case (id, text, lang) =>
        (s"doc://$id", htmlFromText(id, text, lang).getBytes("UTF-8"), text, lang)
      }
      .toDF("url", "html", "text", "lang")
      .cache() // feeds both the extract input and the src-text join side
    val coveredU = coveredUdf
    // scale-adaptive parse parallelism (round 6): 16 buckets capped the
    // parse stage at 16 tasks on a 32-core session; the bucket column is
    // dropped from the output, so the result is bucket-count-independent
    Pipeline.extract(s, pages,
        numBuckets = math.max(16, s.sparkContext.defaultParallelism))
      .toDF()
      .join(pages.select($"url", $"text".as("src_text")), "url")
      .select($"url", $"page_count", $"item_count", $"table_count",
        length($"src_text").as("src_chars"),
        coveredU($"markdown", $"src_text").as("covered"))
      .orderBy($"url")
  }

  /** Audit metrics over driver documents (HTML wrap -> parse -> transforms ->
    * render -> audit). Every one of the 15 fields has a closed-form oracle;
    * coverage/recall must come out exactly 1.0 (the reference's own
    * acceptance invariant for a lossless extraction). */
  def auditDriverDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    srcDocs(s, dir).as[(Long, String, String)]
      .map { case (id, text, lang) =>
        // single-char words can legitimately trip the spaced-text detector
        // ("xx y zz" with an uncommon middle) — drop them so the audit
        // counters have exact closed forms; the oracle filters identically
        val clean = text.split(" ").filter(_.length >= 2).mkString(" ")
        val parsed = HtmlExtract.parse(s"doc://$id", htmlWithTable(id, clean, lang))
        val (doc, _) = DocTransforms.applyAll(parsed)
        val md = MarkdownRender.render(doc)
        graft.audit.Audit.auditDocVsMarkdown(doc, md)
      }
      .toDF()
      .orderBy($"url")
  }

  /** Spacing predicate battery: deterministic damage classes over driver
    * documents (doc_id mod 7 selects the damage; the oracle recomputes the
    * class, so the predicates are verified on both damaged and clean text),
    * plus the markdown quality scorer over a synthesized multi-line probe
    * with a closed-form score. */
  def spacingFlags(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    srcDocs(s, dir).select($"doc_id", $"text").as[(Long, String)]
      .map { case (id, text) =>
        val cls = (id % 7).toInt
        // sanitized base: natural single-char words could trip the spaced
        // detector on their own ("xx y zz"), breaking the class oracle; the
        // damage boundary is word-aligned so no stray single letters appear
        val bw = text.split(" ").filter(_.length >= 2)
        val base = bw.mkString(" ")
        val probe = cls match {
          case 0 => (bw.take(8).mkString("").map(_.toString).mkString(" ") +
            " " + bw.drop(8).mkString(" ")).trim           // letter-spaced head
          case 1 => (bw.take(20).mkString("") + " " +
            bw.drop(20).mkString(" ")).trim                // run-on head
          case 2 => base.replaceFirst(" ", "  ")           // double space
          case _ => base
        }
        // quality probe: full 10-word lines (a partial tail line could be an
        // accidental "short line") + (id%3) short lines + (id%2==0: one
        // tripled junk line) -> score = 100 - 5*(id%3) - 2*[id%2==0]
        val words = text.split(" ")
        val mdLines = words.grouped(10).filter(_.length == 10)
          .map(_.mkString(" ")).toBuffer
        for (_ <- 0L until (id % 3)) mdLines += "x y"
        if (id % 2 == 0) for (_ <- 0 until 3) mdLines += "tripled junk line"
        val q = Quality.scoreMarkdown(mdLines.mkString("\n"))
        (id, cls, Predicates.isSpacedText(probe), Predicates.isMultiSpaceText(probe),
          Predicates.isCollapsedText(probe),
          Predicates.isSpacedText(probe) || Predicates.isCollapsedText(probe),
          q.score, q.shortLineCount, q.repeatedLineCount)
      }
      .toDF("doc_id", "cls", "is_spaced", "is_multi_space", "is_collapsed",
        "needs_fix", "quality_score", "short_lines", "repeated_lines")
      .orderBy($"doc_id")
  }

  /** Glyph-run spacing repair, distributed: synthesize deterministic glyph
    * rows (chars + boxes with kerning/word gaps) from document text, run the
    * 2-means reconstruction kernel per row, verify round trip. */
  def glyphRepair(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    srcDocs(s, dir)
      .select($"doc_id", $"text").as[(Long, String)]
      .map { case (id, text) =>
        val phrase = text.take(80)
        // lay out glyphs: 1.0-wide chars, 0.1 kern gaps, 2.5 word gaps
        var x = 0.0
        val glyphs = phrase.flatMap { ch =>
          if (ch == ' ') { x += 2.5; None }
          else { val g = SpacingRepair.Glyph(ch.toString, x, 0, x + 1.0, 2.0); x += 1.1; Some(g) }
        }
        val rebuilt = SpacingRepair.reconstructFromChars(glyphs)
        (id, phrase.length, rebuilt.length, rebuilt == Py.joinSplit(phrase).strip())
      }
      .toDF("doc_id", "phrase_len", "rebuilt_len", "roundtrip_ok")
      .orderBy($"doc_id")
  }

  /** Multimodal column plumbing: opaque binary payloads with typed metadata.
    * The decode step is a STUB (no image/audio codecs in this environment):
    * a deterministic fake header parse + byte-histogram features. The Spark
    * shape — binary column, batched mapPartitions, fixed-width feature
    * vector — is the real, tested part; a real deployment swaps an actual
    * codec into the marked block with the same schema and batching.
    * Features are integer-exact so the oracle recomputes them bit-for-bit. */
  def multimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    srcDocs(s, dir)
      .select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val media = Option(text).getOrElse("").getBytes("UTF-8") // stands in for image/audio bytes
          // STUB decode: fake header = (width, height) from first bytes.
          val width = if (media.isEmpty) 1 else 1 + (media(0) & 0x7F)
          val height = if (media.isEmpty) 1 else 1 + (media(media.length / 2) & 0x7F)
          val hist = new Array[Long](8)
          var i = 0
          while (i < media.length) { hist((media(i) & 0xFF) / 32) += 1; i += 1 }
          val sumsq = hist.map(h => h * h).sum
          (id, media.length, width, height,
            hist(0), hist(1), hist(2), hist(3), hist(4), hist(5), hist(6), hist(7), sumsq)
        }
      }
      .toDF("doc_id", "n_bytes", "width", "height",
        "h0", "h1", "h2", "h3", "h4", "h5", "h6", "h7", "sumsq")
      .orderBy($"doc_id")
  }

  /** The reference cell-clean fixture battery (tests/unit/test_table_fixes.py)
    * applied distributed; the oracle pins the expected clean forms as a
    * VALUES table transcribed from the reference's own unit fixtures. */
  val CleanCellFixtures: Seq[(String, String, Boolean)] = Seq(
    ("84 % 84 %", "84%", false),
    ("42 42.916.476", "42.916.476", false),
    ("1 234.567", "1.234.567", false),
    ("ƒ^+%", "Δ%", false),
    ("78. RON 78.947.449", "RON 78.947.449", false),
    ("168.506.901 RON", "RON 168.506.901", false),
    ("153.689.723 RON 153.689.723 RON", "RON 153.689.723", false),
    ("- 45,40%", "-45,40%", false),
    ("EUR ( 420 )", "EUR (420)", false),
    ("31/12/20 31/12/2024", "31/12/2024", false),
    ("EUR .961.31", "EUR .961.31", true),
    // CP1252 mojibake round-trip repair (text_normalize.py:16-64): Romanian
    // UTF-8 read as CP1252 — the repair re-encodes and re-decodes, gated on
    // the mojibake score and diacritic-gain rules
    ("ÃŽnregistrÄƒri contabile", "Înregistrări contabile", false),
    ("situaÈ›ii financiare", "situații financiare", false),
    ("venituri È™i cheltuieli", "venituri și cheltuieli", false),
    // Latin-1 fallback path: U+009B is unencodable in CPython's cp1252, so
    // only the latin1 round trip can repair this one
    ("situa\u00c8\u009bii anuale", "situații anuale", false))

  def cleanCells(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cleanU = udf((t: String) => CellClean.cleanTableCellText(t))
    val suspectU = udf((t: String) => CellClean.isSuspectCurrencyCell(t))
    val dirtyCells = CleanCellFixtures.map(_._1).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    s.createDataset(dirtyCells).toDF("cell_id", "dirty")
      .select($"cell_id", $"dirty", cleanU($"dirty").as("clean"),
        suspectU(cleanU($"dirty")).as("still_suspect"))
      .orderBy($"cell_id")
  }

  /** Worst-pages top-k over driver documents: pages of 12 words + 3 unique
    * sentinels; sentinels are dropped from the RENDERED side on damaged
    * pages ((doc_id + page) % 3 == 0), so per-page token coverage is exactly
    * (w_p + kept) / (w_p + 3) — closed form. Exercises the renderer, the
    * positional markdown page zip, and the audit window rank. */
  def worstPages(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val audits = srcDocs(s, dir).select($"doc_id", $"text").as[(Long, String)]
      .flatMap { case (id, text) =>
        val doc = HtmlExtract.parse(s"doc://$id", htmlPaged(id, text))
        val damaged = doc.copy(items = doc.items.filterNot { i =>
          (id + i.pageNo) % 3 == 0 && i.text != null &&
            (i.text == s"zq${id}x${i.pageNo}n1" || i.text == s"zq${id}x${i.pageNo}n2")
        })
        val md = MarkdownRender.render(damaged)
        graft.audit.Audit.auditPerPage(doc, md)
      }.toDF()
    val w = Window.partitionBy($"url").orderBy($"tokenCoverage".asc, $"pageNo".asc)
    audits.withColumn("rank", row_number().over(w))
      .filter($"rank" <= k)
      .select($"url", $"pageNo".as("page_no"),
        round($"tokenCoverage", 6).as("token_coverage"), $"rank")
      .orderBy($"url", $"rank")
  }

  /** OCR merge flow over synthesized (base, ocr) doc pairs. doc_id mod 3
    * selects the numeric-cell scenario so all three acceptance rules of
    * shouldReplaceNumericCell (table_fixes.py:548-583) are exercised:
    *   0 -> OCR digits longer + endswith base   -> replaced
    *   1 -> currency mismatch (EUR vs RON)      -> rejected
    *   2 -> OCR digits not longer               -> rejected
    * The spaced-cell repair (merge in spacedMode) applies to every pair. */
  def ocrMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    srcDocs(s, dir).select($"doc_id").as[Long].map { i =>
      val cls = (i % 3).toInt
      val cell = graft.model.TableCell(1, 2, 0, 1, 1, 1, "RON 71.371",
        columnHeader = false, rowHeader = false, rowSection = false, fillable = false,
        bbox = Some(graft.model.Bbox(0, 0, 50, 10, graft.model.Bbox.TopLeft)))
      val spacedCell = cell.copy(startCol = 1, endCol = 2, text = "finan c iar " + i,
        bbox = Some(graft.model.Bbox(60, 0, 110, 10, graft.model.Bbox.TopLeft)))
      def doc(cells: Array[graft.model.TableCell]) = graft.model.Doc(s"pair://$i", Array(
        graft.model.DocItem(0, graft.model.ItemKind.Table, graft.model.Label.Table,
          graft.model.ContentLayer.Body, 1, None, "",
          Some(graft.model.TableData(2, 2, cells)))),
        Array(graft.model.PageDim(1, 0, 800)))
      val ocrNumeric = cls match {
        case 0 => "RON 471.371"
        case 1 => "EUR 471.371"
        case _ => "RON 71.371"
      }
      val base = doc(Array(cell, spacedCell))
      val ocr = doc(Array(cell.copy(text = ocrNumeric),
        spacedCell.copy(text = "financiar " + i)))
      val (m1, suspectReplaced) = DocTransforms.mergeTableCellsWithOcr(base, ocr, spacedMode = false)
      val (_, spacedReplaced) = DocTransforms.mergeTableCellsWithOcr(m1, ocr, spacedMode = true)
      val repaired = DocTransforms.countSuspectTableCells(m1)
      (i, cls, suspectReplaced, spacedReplaced, repaired)
    }.toDF("pair_id", "cls", "suspect_replaced", "spaced_replaced", "suspect_after")
      .orderBy($"pair_id")
  }

  /** Distributed spacing-fix routing: detect damaged pages, reconstruct the
    * spaced cell from synthesized positioned glyphs, verify recovery. */
  def spacingFixFlow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.textkit.SpacingRepair.Glyph
    srcDocs(s, dir)
      .select($"doc_id", $"text").as[(Long, String)]
      .map { case (id, text) =>
        val phrase = text.split(" ").take(6).mkString(" ")
        val spaced = phrase.flatMap(c => if (c == ' ') "  " else c.toString + " ").trim
        // lay out the CLEAN phrase as glyphs; the damaged cell must recover it
        var x = 0.0
        val glyphs = phrase.flatMap { ch =>
          if (ch == ' ') { x += 2.5; None }
          else { val g = Glyph(ch.toString, x, 0, x + 1.0, 2.0); x += 1.1; Some(g) }
        }
        val cell = graft.model.TableCell(0, 1, 0, 1, 1, 1, spaced,
          columnHeader = false, rowHeader = false, rowSection = false, fillable = false,
          bbox = Some(graft.model.Bbox(0, 0, x + 2, 2, graft.model.Bbox.TopLeft)))
        val doc = graft.model.Doc(s"doc://$id", Array(
          graft.model.DocItem(0, graft.model.ItemKind.Table, graft.model.Label.Table,
            graft.model.ContentLayer.Body, 1, None, "",
            Some(graft.model.TableData(1, 1, Array(cell))))),
          Array(graft.model.PageDim(1, 0, 800)))
        val pages = graft.extract.SpacingFix.detectSpacingPages(doc)
        val (fixed, report) = graft.extract.SpacingFix.fixSpacedItems(
          doc, Map(1 -> glyphs), pages)
        val out = fixed.items(0).table.get.cells(0).text
        (id, pages.map(_.size).getOrElse(-1), report.tableCells, out == phrase, phrase.length)
      }.toDF("doc_id", "damaged_pages", "cells_repaired", "recovered", "phrase_chars")
      .orderBy($"doc_id")
  }

  /** Backend auto-probe over driver documents: page-1 quality argmax across
    * parse configs. doc_id % 4 == 0 documents carry junk that only the
    * aggressive config removes -> (chosen, scores) have exact closed forms. */
  def backendProbe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    srcDocs(s, dir).as[(Long, String, String)].map { case (id, text, lang) =>
      val (best, scores) = graft.extract.SpacingFix.probeBackend(
        s"doc://$id", htmlWithJunk(id, text, lang))
      (s"doc://$id", best, scores("standard"), scores("aggressive"))
    }.toDF("url", "chosen", "score_standard", "score_aggressive")
      .orderBy($"url")
  }

  /** Lossless JSON export + round trip of the parsed item tree
    * (export_utils.py:31-37): to_json, then from_json back, item counts and
    * the url field must survive. */
  def docJson(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docSchema = org.apache.spark.sql.Encoders.product[graft.model.Doc].schema
    srcDocs(s, dir).as[(Long, String, String)]
      .map { case (id, text, lang) =>
        (s"doc://$id", HtmlExtract.parse(s"doc://$id", htmlFromText(id, text, lang)))
      }
      .toDF("url", "doc")
      .select($"url", size($"doc.items").as("item_count"), to_json($"doc").as("doc_json"))
      .select($"url", $"item_count",
        size(from_json($"doc_json", docSchema).getField("items")).as("json_items"),
        (get_json_object($"doc_json", "$.url") === $"url").as("json_url_ok"))
      .orderBy($"url")
  }

  /** q52: docling-schema ROUND TRIP distributed — parse HTML, export the
    * tree in the reference's --export-json format (DoclingJsonExport,
    * export_utils.py:32-38), re-ingest the JSON (DoclingJsonIngest), and
    * assert identical item structure. Closed-form oracle: the q30 item
    * formula plus exact-equality invariants. */
  def doclingRoundTrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    srcDocs(s, dir).as[(Long, String, String)]
      .mapPartitions { it =>
        it.map { case (id, text, lang) =>
          val doc = HtmlExtract.parse(s"doc://$id", htmlFromText(id, text, lang))
          val json = graft.sources.DoclingJsonExport.write(doc)
          val back = graft.sources.DoclingJsonIngest.parse(json, s"doc://$id")
          val same = back.items.length == doc.items.length &&
            back.items.zip(doc.items).forall { case (a, b) =>
              Option(a.text).getOrElse("") == Option(b.text).getOrElse("") &&
                a.label == b.label && a.kind == b.kind && a.pageNo == b.pageNo
            } && back.pages.toSeq == doc.pages.toSeq
          (s"doc://$id", doc.items.length, back.items.length, same)
        }
      }
      .toDF("url", "item_count", "reparsed_items", "roundtrip_ok")
      .orderBy($"url")
  }

  /** Deterministic DoclingDocument JSON for a driver text row — the
    * reference's --export-json shape (schema_name/body/texts/tables/pages).
    * doc_id % 3 == 0 rows carry a grouped-header table with a split
    * "RON | 158.065.856" pair, so the collapse battery must fire on the
    * ingested payload (closed-form oracle). */
  def doclingJsonFromText(docId: Long, text: String): String = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val words = text.split(" ")
    val paras = words.grouped(12).map(_.mkString(" ")).toSeq
    val texts = new StringBuilder
    val bodyRefs = new StringBuilder
    def addText(i: Int, label: String, t: String): Unit = {
      if (i > 0) texts += ','
      texts ++= s"""{"self_ref":"#/texts/$i","children":[],"content_layer":"body","label":"$label","prov":[{"page_no":1,"bbox":{"l":10,"t":${20 + i * 14},"r":500,"b":${30 + i * 14},"coord_origin":"TOPLEFT"}}],"text":"${esc(t)}"}"""
      if (bodyRefs.nonEmpty) bodyRefs += ','
      bodyRefs ++= s"""{"$$ref":"#/texts/$i"}"""
    }
    addText(0, "title", s"Document $docId")
    for ((p, i) <- paras.zipWithIndex) addText(i + 1, "text", p)
    val hasTable = docId % 3 == 0
    val tables = if (!hasTable) "" else {
      if (bodyRefs.nonEmpty) bodyRefs += ','
      bodyRefs ++= """{"$ref":"#/tables/0"}"""
      def cell(r0: Int, r1: Int, c0: Int, c1: Int, hdr: Boolean, t: String) =
        s"""{"bbox":{"l":${10 + c0 * 60},"t":${700 + r0 * 12},"r":${10 + c1 * 60},"b":${710 + r0 * 12},"coord_origin":"TOPLEFT"},"row_span":1,"col_span":${c1 - c0},"start_row_offset_idx":$r0,"end_row_offset_idx":$r1,"start_col_offset_idx":$c0,"end_col_offset_idx":$c1,"text":"$t","column_header":$hdr,"row_header":false,"row_section":false,"fillable":false}"""
      s"""{"self_ref":"#/tables/0","children":[],"content_layer":"body","label":"table","prov":[{"page_no":1,"bbox":{"l":10,"t":700,"r":200,"b":730,"coord_origin":"TOPLEFT"}}],"data":{"num_rows":2,"num_cols":3,"table_cells":[
         ${cell(0, 1, 0, 1, hdr = true, "Indicatori")},
         ${cell(0, 1, 1, 3, hdr = true, "30/09/2025")},
         ${cell(1, 2, 0, 1, hdr = false, "CIFRA")},
         ${cell(1, 2, 1, 2, hdr = false, "RON")},
         ${cell(1, 2, 2, 3, hdr = false, "158.065.856")}]}}"""
    }
    s"""{"schema_name":"DoclingDocument","version":"1.8.0","name":"doc$docId",
       |"body":{"self_ref":"#/body","children":[$bodyRefs]},
       |"texts":[$texts],"pictures":[],"tables":[$tables],
       |"pages":{"1":{"page_no":1,"size":{"width":612,"height":792}}}}""".stripMargin
  }

  /** Docling-JSON payloads through the DISTRIBUTED pipeline (q45): the
    * pages table carries the reference's native export format; payload
    * sniffing routes it to the ingest + transform battery. */
  def doclingPipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pages = srcDocs(s, dir).as[(Long, String, String)]
      .map { case (id, text, lang) =>
        (s"doc://$id", doclingJsonFromText(id, text).getBytes("UTF-8"), text, lang)
      }
      .toDF("url", "html", "text", "lang")
      .cache() // feeds both the extract input and the src-text join side
    val coveredU = coveredUdf
    Pipeline.extract(s, pages, numBuckets = 16).toDF()
      .join(pages.select($"url", $"text".as("src_text")), "url")
      .select($"url", $"backend", $"page_count", $"item_count", $"table_count",
        $"markdown".contains("| RON 158.065.856 |").as("collapsed_pair"),
        coveredU($"markdown", $"src_text").as("covered"))
      .orderBy($"url")
  }

  /** Two-channel distributed repair (q48) — the reference's REAL shape: a
    * Docling-parsed tree whose text layer is damaged, repaired from the
    * page's glyph geometry (conversion_utils.py:400-478). Each row carries
    * BOTH channels: a docling-JSON tree with a letter-spaced text item and
    * the source PDF with clean glyphs. The repair must reconstruct the
    * phrase exactly (closed-form oracle from the driver text). */
  def twoChannelRepair(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    srcDocs(s, dir).select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val phrase = text.split(" ").take(6).mkString(" ")
          val spaced = phrase.flatMap(c => if (c == ' ') "  " else c.toString + " ").trim
          def esc(t: String) = t.replace("\\", "\\\\").replace("\"", "\\\"")
          // damaged text channel: one body text item covering the page
          val json =
            s"""{"schema_name":"DoclingDocument","version":"1.8.0","name":"doc$id",
               |"body":{"self_ref":"#/body","children":[{"$$ref":"#/texts/0"}]},
               |"texts":[{"self_ref":"#/texts/0","children":[],"content_layer":"body",
               | "label":"text","prov":[{"page_no":1,"bbox":{"l":0,"t":0,"r":612,"b":792,
               | "coord_origin":"TOPLEFT"}}],"text":"${esc(spaced)}"}],
               |"pictures":[],"tables":[],
               |"pages":{"1":{"page_no":1,"size":{"width":612,"height":792}}}}""".stripMargin
          // clean geometry channel: the same phrase as PDF glyphs
          val pdf = graft.extract.SyntheticPdf.pdfFor(Seq(Seq(phrase)))
          val doc = graft.sources.DoclingJsonIngest.parse(json, s"doc://$id")
          val glyphs = graft.extract.PdfText.extractGlyphs(pdf)
          val (fixed, report) = Pipeline.repairDoc(doc, glyphs)
          val md = MarkdownRender.render(DocTransforms.applyAll(fixed)._1)
          (id, report.textItems, fixed.items(0).text == phrase,
            !Predicates.needsSpacingFix(fixed.items(0).text), md.contains(phrase))
        }
      }
      .toDF("doc_id", "text_items_repaired", "recovered", "damage_cleared", "md_has_phrase")
      .orderBy($"doc_id")
  }

  /** Reference-golden parity (q44): ingest the reference's pinned docling
    * JSON, run the full transform battery + render + post-chain, and measure
    * parity against the reference's committed markdown. All outputs are
    * integer-exact and deterministic; the oracle pins them as literals
    * derived from the reference artifacts (like the q35 fixtures). */
  def referenceGolden(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the artifact directory override is a session conf, read here and
    // captured into the closure, so deployments point the parity gate anywhere
    val base = s.conf.getOption(ReferenceExamples.Key)
    s.createDataset(Seq("long_report")).map { name =>
      val json = ReferenceExamples.string(s"$name.docling.json", base)
      val want = ReferenceExamples.string(s"$name.md", base)
      val doc0 = graft.sources.DoclingJsonIngest.parse(json, s"doc://$name")
      // REAL two-channel repair: the committed docling tree (damaged text
      // layer) against the committed PDF's own glyph geometry — the q48
      // shape on the reference's actual artifacts. Residual non-identical
      // lines vs the golden are classified in GOLDEN_RESIDUE.md (all need
      // the tesseract raster channel or replicate its OCR errors).
      val pdf = ReferenceExamples.bytes(s"$name.pdf", base)
      val glyphs = graft.extract.PdfDoc.extractGlyphs(pdf)
      val (repaired, report, filled) = Pipeline.repairDocWithTextLayer(doc0, glyphs)
      val (doc, counters) = DocTransforms.applyAll(repaired)
      val got = MarkdownRender.postProcess(MarkdownRender.render(doc))
      val gl = got.split("\n", -1)
      val wl = want.split("\n", -1)
      val equalLines = lcsLines(gl, wl)
      val gotHeadings = got.linesIterator.filter(_.startsWith("#")).toSet
      val headingsPresent = want.linesIterator.filter(_.startsWith("#")).forall(gotHeadings)
      val gotTokens = Numbers.tokenize(got).toSet
      val wantTokens = Numbers.tokenize(want)
      (name, doc0.pages.length, doc0.items.count(_.table.nonEmpty),
        counters("collapsed_tables"), doc.items.flatMap(_.table).head.numCols,
        MarkdownPost.markdownTableCount(got), headingsPresent,
        report.tableCells + report.textItems, filled,
        equalLines, wl.length,
        wantTokens.count(gotTokens.contains), wantTokens.length)
    }.toDF("name", "n_pages", "n_tables", "collapsed", "flagship_cols",
      "md_tables", "headings_present", "glyph_repaired", "cells_filled",
      "equal_lines", "want_lines", "tokens_covered", "tokens_total")
      .orderBy($"name")
  }

  /** Pure-JVM PDF path: write a minimal PDF per document (text lines, Td/TJ
    * positioning), tokenize the content stream back into positioned glyphs,
    * reconstruct reading order via the 2-means kernel, verify round trip. */
  def pdfExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    srcDocs(s, dir)
      .select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val words = text.split(" ")
          val lines = words.grouped(8).map(_.mkString(" ")).toSeq
          val pages = lines.grouped(12).map(_.toSeq).toSeq
          val pdf = graft.extract.SyntheticPdf.pdfFor(pages)
          val extracted = graft.extract.PdfText.extractText(pdf)
          val joined = (1 to pages.length).map(extracted(_)).mkString(" ")
          (id, lines.length, pages.length, joined.length, joined == text)
        }
      }
      .toDF("doc_id", "n_lines", "n_pages", "extracted_chars", "roundtrip_ok")
      .orderBy($"doc_id")
  }

  /** Full pipeline over a PDF corpus built from driver documents
    * (content-stream tokenize -> layout parse -> transforms -> markdown),
    * with the same coverage invariant as the HTML flagship. */
  def pdfPipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pages = srcDocs(s, dir).as[(Long, String, String)]
      .map { case (id, text, lang) =>
        val words = text.split(" ")
        val lines = words.grouped(8).map(_.mkString(" ")).toSeq
        val pdfPages = lines.grouped(12).map(_.toSeq).toSeq
        (s"doc://$id", graft.extract.SyntheticPdf.pdfFor(pdfPages), text, lang)
      }
      .toDF("url", "html", "text", "lang")
      .cache() // feeds both the extract input and the src-text join side
    val coveredU = coveredUdf
    Pipeline.extract(s, pages, numBuckets = 16).toDF()
      .join(pages.select($"url", $"text".as("src_text")), "url")
      .select($"url", $"page_count", $"item_count",
        coveredU($"markdown", $"src_text").as("covered"))
      .orderBy($"url")
  }

  /** q55: the q43 pipeline over MODERN (PDF 1.5) files — dict objects
    * compressed in an ObjStm, Flate content streams, offsets in a PNG-
    * predictor /Type /XRef stream, no classic xref/trailer anywhere. Same
    * page geometry as q43, so the same closed forms apply; what's under
    * test is the 1.5 reader path (xref-stream rows, type-2 ObjStm routing,
    * predictor decode, /Root from the stream dict) end-to-end. */
  def pdfPipeline15(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pages = srcDocs(s, dir).as[(Long, String, String)]
      .map { case (id, text, lang) =>
        val words = text.split(" ")
        val lines = words.grouped(8).map(_.mkString(" ")).toSeq
        val pdfPages = lines.grouped(12).map(_.toSeq).toSeq
        (s"doc://$id", graft.extract.SyntheticPdf.pdfFor15(pdfPages), text, lang)
      }
      .toDF("url", "html", "text", "lang")
      .cache() // feeds both the extract input and the src-text join side
    val coveredU = coveredUdf
    Pipeline.extract(s, pages, numBuckets = 16).toDF()
      .join(pages.select($"url", $"text".as("src_text")), "url")
      .select($"url", $"page_count", $"item_count",
        coveredU($"markdown", $"src_text").as("covered"))
      .orderBy($"url")
  }

  /** q59: the ENCRYPTED real-world corpus shape under the oracle — the same
    * page geometry as q55 but every content stream encrypted by the
    * standard security handler, with doc_id selecting the generation a real
    * corpus mixes (RC4-128 / AES-128 / AES-256 R6). A decode failure in any
    * handler path zeroes that doc's coverage and breaks the closed forms. */
  def encryptedPdfPipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pages = srcDocs(s, dir).as[(Long, String, String)]
      .map { case (id, text, lang) =>
        val words = text.split(" ")
        val lines = words.grouped(8).map(_.mkString(" ")).toSeq
        val pdfPages = lines.grouped(12).map(_.toSeq).toSeq
        val cipher = (id % 3) match {
          case 0 => "rc4"
          case 1 => "aesv2"
          case _ => "aesv3"
        }
        (s"doc://$id", graft.extract.SyntheticPdf.pdfForEncrypted(pdfPages, cipher, id),
          text, lang, cipher)
      }
      .toDF("url", "html", "text", "lang", "cipher")
      .cache()
    val coveredU = coveredUdf
    val out = Pipeline.extract(s, pages.select($"url", $"html", $"text", $"lang"),
        numBuckets = 16).toDF()
      .join(pages.select($"url", $"text".as("src_text"), $"cipher"), "url")
      .select($"url", $"cipher", $"page_count", $"item_count",
        coveredU($"markdown", $"src_text").as("covered"))
      .orderBy($"url")
    val result = out.localCheckpoint()
    pages.unpersist()
    result
  }

  /** q60: the Boilerpipe NumWordsRulesClassifier end-to-end. Each doc's html
    * carries the canonical boilerplate trap sequence — two link lists with a
    * 4-word teaser stranded between them (no links of its own: only the
    * NEIGHBOR-aware tree drops it), then a fixed 20-word lead plus the doc's
    * words in 20-word paragraphs. Closed forms: kept text blocks =
    * 1 + ceil(words/20); all three trap blocks land in furniture. */
  def boilerpipePipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // 45 words: > 40 puts the lead in the tree's unconditional-content leaf
    // even when the doc's own first paragraph is short (prev = link list)
    val lead = "Acest paragraf introductiv stabil prezinta pe larg continutul " +
      "principal al documentului analizat si serveste drept ancora de " +
      "clasificare pentru algoritmul de detectie boilerplate fiind pastrat " +
      "intotdeauna de arborele de decizie deoarece numarul sau de cuvinte " +
      "depaseste pragul superior de patruzeci stabilit in lucrarea " +
      "originala publicata"
    srcDocs(s, dir).as[(Long, String, String)]
      .map { case (id, text, lang) =>
        val words = text.split(" ").filter(_.nonEmpty)
        val paras = words.grouped(20).map(_.mkString(" ")).toSeq
        val links = (1 to 10).map(k => s"""<a href="/$k">Sectiune$k</a>""").mkString(" ")
        val sb = new StringBuilder("<html><body>")
        sb ++= s"<div>$links</div>"
        sb ++= "<div>Citeste mai multe aici</div>" // the 4-word teaser
        sb ++= s"<div>$links</div>"
        sb ++= s"<div>$lead</div>"
        paras.foreach(p => sb ++= s"<div>$p</div>")
        sb ++= "</body></html>"
        val doc = HtmlExtract.applyBoilerpipe(
          HtmlExtract.parseDetailed(s"doc://$id", sb.result()))
        val body = doc.items.filter(_.contentLayer == graft.model.ContentLayer.Body)
        val furn = doc.items.filter(_.contentLayer == graft.model.ContentLayer.Furniture)
        (s"doc://$id", body.length.toLong,
          furn.count(_.text.startsWith("Sectiune1")) == 2,
          furn.exists(_.text == "Citeste mai multe aici"),
          body.exists(_.text == lead))
      }
      .toDF("url", "kept_blocks", "link_lists_dropped", "teaser_dropped", "lead_kept")
      .orderBy($"url")
  }

  /** q63: head metadata + canonical-link dedup — the crawl decisions made
    * BEFORE body extraction. Each doc's head carries a MESSY canonical link
    * (the q61 variant classes: case, fragment, default port, tracking
    * params, trailing slash — doc_id % 5 selects), a robots noindex for
    * doc_id % 7 == 0, and the declared language. HeadMeta must find them in
    * one bounded scan and UrlCanonical must collapse the link to the
    * closed-form canonical. */
  def headMetaPipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val extracted = srcDocs(s, dir).as[(Long, String, String)]
      .map { case (id, text, lang) =>
        val g = id / 5
        val base = s"https://example-$g.ro/articol/$g"
        val messy = (id % 5) match {
          case 0 => base + "?a=1&b=2"
          case 1 => s"HTTPS://EXAMPLE-$g.RO/articol/$g?a=1&b=2#top"
          case 2 => s"https://example-$g.ro:443/articol/$g?a=1&b=2"
          case 3 => base + "?b=2&a=1&utm_source=rss"
          case _ => base + "/?a=1&b=2"
        }
        val robots =
          if (id % 7 == 0) """<meta name="robots" content="noindex, nofollow">"""
          else """<meta name="robots" content="index, follow">"""
        val html =
          s"""<html lang="$lang"><head>$robots""" +
            s"""<link rel="canonical" href="$messy"></head>""" +
            s"""<body><p>${text.take(80)}</p>""" +
            // a decoy canonical AFTER <body>: the head-only scan must stop
            s"""<link rel="canonical" href="https://evil.example/hijack"></body></html>"""
        val hm = HtmlExtract.headMeta(html)
        (s"doc://$id", hm.canonical, hm.robotsNoindex, hm.robotsNofollow, hm.htmlLang, lang)
      }
      .toDF("url", "raw_canonical", "noindex", "nofollow", "html_lang", "lang")
    extracted
      .select($"url",
        graft.functions.UrlCanonical.canonicalizeUrl($"raw_canonical").as("canonical_url"),
        $"noindex", $"nofollow", ($"html_lang" === $"lang").as("lang_match"))
      .orderBy($"url")
  }

  /** q66: gap-based sessionization — flatMapGroupsWithState (custom state +
    * event-time timeout) vs the relational batch twin. The event table is
    * replayed as ts-ordered file micro-batches plus a far-future sentinel
    * file per user (closing every real session by gap, advancing the
    * watermark); the streamed session set must equal the batch twin's
    * EXACTLY — the batch twin is what the DuckDB oracle recomputes. */
  def streamingSessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val gapMinutes = 30
    val base = java.nio.file.Files.createTempDirectory("graft-q66").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/src"))
    val ev = s.read.parquet(s"$dir/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
      .select($"event_id", $"user_id", $"ts", $"value")
      .cache()
    // two ts-range files (ordered micro-batches), then the sentinel file
    val mid = ev.agg(expr("percentile_approx(cast(ts as double), 0.5)"))
      .collect()(0).getDouble(0)
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$base/tmp-$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, java.nio.file.Paths.get(s"$base/src/$name.parquet"))
      Thread.sleep(5) // distinct mod times: FileStreamSource replays in order
    }
    writeOne(ev.filter($"ts".cast("double") <= mid), "f0")
    writeOne(ev.filter($"ts".cast("double") > mid), "f1")
    val sentinels = ev.groupBy($"user_id")
      .agg((max($"ts".cast("double")) + 864000).cast("timestamp").as("ts"))
      .select(lit(-1L).as("event_id"), $"user_id", $"ts", lit(0.0).as("value"))
    writeOne(sentinels, "f2")
    val query = graft.streaming.Sessionize.stream(
      s, s"$base/src", s"$base/out", s"$base/chk", gapMinutes)
    query.awaitTermination()
    // sentinel-started sessions CAN surface via event-time timeout (the
    // per-user sentinel ts differ, so early ones fall behind the global
    // watermark) — a harness artifact, excluded by the sentinel floor
    val maxRealTs = ev.agg(max($"ts")).collect()(0).getTimestamp(0)
    val streamed = s.read.parquet(s"$base/out")
      .filter($"session_start" <= lit(maxRealTs))
      .select($"user_id", $"session_start", $"session_end",
        $"n_events".as("s_n"), $"sum_value".as("s_sum"))
    val batch = graft.streaming.Sessionize.batchSessions(ev, gapMinutes)
    val nb = batch.count()
    val ns = streamed.count()
    // session identity = (user, start, end); counts exact, sums within
    // float tolerance (the fold accumulates in event-time order, batch
    // sum() in partition order — same set, different fp association)
    val out = batch.join(streamed, Seq("user_id", "session_start", "session_end"), "left")
      .select($"user_id",
        $"session_start".cast("timestamp_ntz").as("session_start"),
        $"session_end".cast("timestamp_ntz").as("session_end"),
        $"n_events", $"sum_value",
        ($"s_n" === $"n_events" &&
          abs($"s_sum" - $"sum_value") < 0.001 &&
          lit(nb == ns)).as("stream_match"))
      .orderBy($"user_id", $"session_start")
    val result = out.localCheckpoint()
    ev.unpersist()
    result
  }

  /** q68: streaming LSH candidate pairs == batch LSH candidate pairs. The
    * documents table is replayed as 3 file micro-batches; the banded
    * custom-state fold (row-local signature twin) must reproduce the batch
    * operator's pair SET exactly — the set the q18 oracle recomputes from
    * scratch in SQL. */
  def streamingLshPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-q68").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/src"))
    val docs = s.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text").cache()
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$base/tmp-$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, java.nio.file.Paths.get(s"$base/src/$name.parquet"))
      Thread.sleep(5)
    }
    for (k <- 0 until 3) writeOne(docs.filter($"doc_id" % 3 === k), s"f$k")
    val query = graft.streaming.StreamingLsh.stream(
      s, s"$base/src", s"$base/out", s"$base/chk")
    query.awaitTermination()
    val streamed = s.read.parquet(s"$base/out")
      .select($"id_a", $"id_b").distinct()
    val batch = graft.ops.Ops.minhashLshPairsOf(docs)
    val nb = batch.count()
    val ns = streamed.count()
    val out = batch
      .join(streamed.withColumn("m", lit(true)), Seq("id_a", "id_b"), "left")
      .select($"id_a", $"id_b",
        (coalesce($"m", lit(false)) && lit(nb == ns)).as("stream_match"))
      .orderBy($"id_a", $"id_b")
    val result = out.localCheckpoint()
    docs.unpersist()
    result
  }

  /** q62: WARC ingestion round trip — the Common-Crawl container format as
    * a first-class source. The corpus is serialized into per-partition WARC
    * segments (alternating plain / per-file gzip, full HTTP response
    * payloads), read back via WarcSource.readWarc (binaryFile scan +
    * per-partition record parse), and extracted. Closed forms: per-url byte
    * round trip of the html payload, exact WARC-Date round trip, and a
    * successful extraction. */
  def warcIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-q62").toString
    val expected = srcDocs(s, dir).as[(Long, String, String)]
      .map { case (id, text, lang) =>
        (s"https://crawl.example/doc/$id",
          new java.sql.Timestamp(1700000000000L + id * 60000L),
          htmlFromText(id, text, lang).getBytes("UTF-8"))
      }
      .toDF("url", "warc_ts", "html")
      .cache()
    // sink: one WARC segment per partition (the crawl-segment layout);
    // even partitions gzip, odd stay plain — both read paths exercised
    expected.repartition(4)
      .as[(String, java.sql.Timestamp, Array[Byte])]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val recs = it.toSeq
        if (recs.nonEmpty) {
          val gz = pid % 2 == 0
          val bytes = graft.sources.WarcSource.writeWarc(recs, gz)
          val ext = if (gz) "warc.gz" else "warc"
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$base/seg-$pid.$ext"), bytes)
        }
        Iterator.single(recs.size)
      }.collect() // 4 partition counts, bounded by partition count
    val read = graft.sources.WarcSource.readWarc(s, s"$base/*").cache()
    val extracted = Pipeline.extract(s,
      read.select($"url", $"html", lit("ro").as("lang")),
      numBuckets = 8).toDF().select($"url", $"page_count")
    val out = expected
      .select($"url", $"warc_ts".as("ts0"), xxhash64($"html").as("h0"))
      .join(read.select($"url", $"warc_ts", xxhash64($"html").as("h1")),
        Seq("url"), "left")
      .join(extracted, Seq("url"), "left")
      .select($"url",
        ($"h0" <=> $"h1").as("html_roundtrip"),
        ($"ts0" <=> $"warc_ts").as("ts_roundtrip"),
        (coalesce($"page_count", lit(0)) > 0).as("extracted_ok"))
      .orderBy($"url")
    val result = out.localCheckpoint()
    expected.unpersist()
    read.unpersist()
    result
  }

  /** q53: kill-and-resume lineage invariant as a driver query. Run 1 extracts
    * and commits buckets 0..3, then a second run "dies" after writing bucket
    * 4's data files but BEFORE its manifest commit (the crash-orphan state).
    * Run 2 resumes: it must delete the uncommitted bucket-4 orphans, extract
    * exactly the four uncommitted buckets, and commit. Run 3 must be a no-op.
    * The summary row's closed forms catch every failure mode: lost rows or
    * surviving duplicates break committed_docs/distinct_urls (= doc count),
    * re-extraction of committed buckets breaks docs_run12, a non-idempotent
    * resume breaks docs_run3, a missing commit breaks snapshots. */
  /** q57: streaming extraction parity (round-5 verdict task 6). The same
    * corpus is extracted twice — once through the batch pipeline, once
    * through StreamingExtract's foreachBatch sink over a 4-file source
    * drained in >= 2 micro-batches (maxFilesPerTrigger=2) — and the streamed
    * table must hold every url exactly once with markdown byte-identical to
    * the batch output. Both invariants have closed forms (TRUE per url) that
    * break if the streaming path loses, duplicates, or diverges on any doc. */
  def streamingParity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pages = srcDocs(s, dir).as[(Long, String, String)]
      .map { case (id, text, lang) =>
        (s"doc://$id", htmlFromText(id, text, lang).getBytes("UTF-8"), text, lang)
      }
      .toDF("url", "html", "text", "lang")
      .cache()
    val base = java.nio.file.Files.createTempDirectory("graft-q57").toString
    pages.repartition(4).write.parquet(s"$base/src")
    val query = graft.streaming.StreamingExtract.stream(
      s, s"$base/src", s"$base/out", s"$base/chk", numBuckets = 8)
    query.awaitTermination()
    val streamed = s.read.parquet(s"$base/out/data")
    val streamCnt = streamed.groupBy($"url")
      .agg(count(lit(1)).as("n_stream"), max(xxhash64($"markdown")).as("h_stream"))
    val batchH = Pipeline.extract(s, pages, numBuckets = 8).toDF()
      .select($"url", xxhash64($"markdown").as("h_batch"))
    val out = batchH.join(streamCnt, Seq("url"), "left")
      .select($"url",
        (coalesce($"n_stream", lit(0L)) === 1).as("streamed_once"),
        ($"h_stream" <=> $"h_batch").as("md_match"))
      .orderBy($"url")
    val result = out.localCheckpoint()
    pages.unpersist()
    result
  }

  /** q58: the typed UDAF (AuditAggregator over exploded items) must equal
    * the doc-local audit loop counter-for-counter on every document of the
    * q31 corpus — the associativity/commutativity proof of the fold,
    * exercised through a real shuffle. Closed form: TRUE per url. */
  def auditAggregatorParity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = srcDocs(s, dir).as[(Long, String, String)]
      .map { case (id, text, lang) =>
        val clean = text.split(" ").filter(_.length >= 2).mkString(" ")
        val parsed = HtmlExtract.parse(s"doc://$id", htmlWithTable(id, clean, lang))
        val (doc, _) = DocTransforms.applyAll(parsed)
        doc
      }
      .cache()
    val docLocal = docs.map { doc =>
      val m = graft.audit.Audit.auditDocVsMarkdown(doc, MarkdownRender.render(doc))
      (doc.url, m.spacedTableCells, m.totalTableCells, m.spacedTextItems,
        m.multiSpaceTextItems, m.totalTextItems)
    }.toDF("url", "d_spaced_cells", "d_total_cells", "d_spaced_text",
      "d_multi_text", "d_total_text")
    val viaAgg = docs.flatMap(d => d.items.map(it =>
        (d.url, graft.audit.AuditAggregator.fromItem(it))))
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(graft.audit.AuditAggregator.agg.toColumn.name("c"))
      .select($"key".as("url"),
        $"c.spacedTableCells".as("a_spaced_cells"),
        $"c.totalTableCells".as("a_total_cells"),
        $"c.spacedTextItems".as("a_spaced_text"),
        $"c.multiSpaceTextItems".as("a_multi_text"),
        $"c.totalTextItems".as("a_total_text"))
    val out = docLocal.join(viaAgg, Seq("url"))
      .select($"url",
        ($"d_spaced_cells" === $"a_spaced_cells" &&
         $"d_total_cells" === $"a_total_cells" &&
         $"d_spaced_text" === $"a_spaced_text" &&
         $"d_multi_text" === $"a_multi_text" &&
         $"d_total_text" === $"a_total_text").as("agg_matches_doc"))
      .orderBy($"url")
    val result = out.localCheckpoint()
    docs.unpersist()
    result
  }

  def lineageResume(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pages = srcDocs(s, dir).as[(Long, String, String)]
      .map { case (id, text, lang) =>
        (s"doc://$id", htmlFromText(id, text, lang).getBytes("UTF-8"), text, lang)
      }
      .toDF("url", "html", "text", "lang")
      .cache()
    val nB = 8
    val outDir = java.nio.file.Files.createTempDirectory("graft-q53").toString
    // run 1: four buckets extracted, written, committed
    val run1 = Pipeline.extract(s, pages, numBuckets = nB,
      skipBuckets = (4 until nB).toSet).toDF().cache()
    run1.write.mode("append").partitionBy("bucket").parquet(s"$outDir/data")
    val stats1 = run1.groupBy($"bucket")
      .agg(count(lit(1)).as("n"), sum(length($"markdown")).cast("long").as("b"))
      .collect() // bounded by numBuckets, never by corpus size
      .map(r => graft.lineage.Lineage.PartitionStat(
        r.getInt(0), r.getLong(1), r.getLong(2), 0L))
      .toSeq.sortBy(_.bucket)
    graft.lineage.Lineage.commit(outDir, nB, stats1,
      "q53 run1 (killed after committing 4 of 8 buckets)")
    val docs1 = stats1.map(_.docCount).sum
    run1.unpersist()
    // the next run writes bucket 4 and dies pre-commit: orphaned data files
    Pipeline.extract(s, pages, numBuckets = nB,
      skipBuckets = (0 until nB).toSet - 4).toDF()
      .write.mode("append").partitionBy("bucket").parquet(s"$outDir/data")
    // run 2 resumes (must clean the orphan, extract buckets 4..7 only)
    val (_, docs2) = Pipeline.extractAndCommit(s, pages, outDir, numBuckets = nB)
    // run 3: everything committed -> no-op
    val (_, docs3) = Pipeline.extractAndCommit(s, pages, outDir, numBuckets = nB)
    val data = s.read.parquet(s"$outDir/data")
    val committed = data.count()
    val distinctUrls = data.select($"url").distinct().count()
    val nSnapshots = graft.lineage.Lineage.snapshots(outDir).length.toLong
    pages.unpersist()
    Seq((committed, distinctUrls, docs1 + docs2, docs3, nSnapshots))
      .toDF("committed_docs", "distinct_urls", "docs_run12", "docs_run3", "snapshots")
  }

  /** q54: page-range / max-pages scan pruning + the three picture render
    * modes as a driver query. The PDF corpus reuses q42's closed-form
    * geometry (8-word lines, 12 lines/page), so the restricted page counts
    * have exact oracles; the picture channel adds one picture for
    * doc_id%4==0 whose payload bytes exist only for doc_id%8==0 (embedded
    * mode falls back to the placeholder without payload — docling behavior,
    * cli.py:72-81). */
  def pageRangeImageModes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.model._
    srcDocs(s, dir).as[(Long, String, String)]
      .mapPartitions { it =>
        it.map { case (id, text, lang) =>
          val words = text.split(" ")
          val lines = words.grouped(8).map(_.mkString(" ")).toSeq
          val pdfPages = lines.grouped(12).map(_.toSeq).toSeq
          val pdf = graft.extract.SyntheticPdf.pdfFor(pdfPages)
          def pageCount(opts: Pipeline.ExtractOptions): Int =
            Pipeline.extractOne(s"doc://$id", pdf, lang, 0, opts).page_count
          val full = pageCount(Pipeline.ExtractOptions())
          val pr = pageCount(Pipeline.ExtractOptions(pageRange = Some((2, 3))))
          val mp = pageCount(Pipeline.ExtractOptions(maxPages = Some(2)))
          // picture channel: title + optional picture item
          val hasPic = id % 4 == 0
          val hasPayload = id % 8 == 0
          val items = Array(
            DocItem(0, ItemKind.Text, Label.Title, ContentLayer.Body, 1, None,
              s"Document $id", None)) ++
            (if (hasPic) Array(DocItem(1, ItemKind.Picture, Label.Picture,
              ContentLayer.Body, 1, None,
              if (hasPayload) "base64:QUJD" else "", None))
            else Array.empty[DocItem])
          val doc = Doc(s"doc://$id", items, Array(PageDim(1, 612.0, 792.0)))
          def occurrences(md: String, needle: String): Int =
            md.sliding(needle.length).count(_ == needle)
          val mdP = MarkdownRender.render(doc)
          val mdR = MarkdownRender.render(doc,
            imageMode = MarkdownRender.ImageMode.Referenced)
          val mdE = MarkdownRender.render(doc,
            imageMode = MarkdownRender.ImageMode.Embedded)
          (s"doc://$id", pr, mp, full,
            occurrences(mdP, "<!-- image -->"),
            occurrences(mdR, "](artifacts/image_"),
            occurrences(mdE, "](data:image/png;base64,"))
        }
      }
      .toDF("url", "pr_pages", "mp_pages", "full_pages",
        "img_placeholder", "img_referenced", "img_embedded")
      .orderBy($"url")
  }
}
