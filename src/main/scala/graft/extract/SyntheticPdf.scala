package graft.extract

import java.nio.charset.StandardCharsets.ISO_8859_1

/** Minimal deterministic PDF writer for the synthetic corpus: one content
  * stream per page, Helvetica, explicit Td line positioning. Every classic
  * file goes through one assembler ([[classic]]) and every 12 pt page
  * through one line emitter ([[lineContent]]). */
object SyntheticPdf {
  private def esc(t: String): String =
    t.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")

  private def deflate(raw: String): String = {
    val d = new java.util.zip.Deflater()
    d.setInput(raw.getBytes(ISO_8859_1))
    d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    new String(out.toByteArray, ISO_8859_1)
  }

  /** Objects 1–3: the catalog, the page tree over `kids`, the font. */
  private def headerObjects(kids: Seq[Int]): Seq[String] = Seq(
    "<< /Type /Catalog /Pages 2 0 R >>",
    s"<< /Type /Pages /Kids [${kids.map(id => s"$id 0 R").mkString(" ")}] /Count ${kids.length} >>",
    "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")

  private def pageDict(contentId: Int): String =
    s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents $contentId 0 R " +
      "/Resources << /Font << /F1 3 0 R >> >> >>"

  /** A content stream object over `data`, Flate-compressed when `flate`. */
  private def streamObj(data: String, flate: Boolean): String = {
    val body = if (flate) deflate(data) else data
    s"<< /Length ${body.length}${if (flate) " /Filter /FlateDecode" else ""} >>\nstream\n$body\nendstream"
  }

  /** One page of 12 pt lines, 14 pt apart; line `spread` (-1: none) is
    * written letter by letter as a TJ run: "[(f) -280 (i) -280 (n)...] TJ". */
  private def lineContent(lines: Seq[String], spread: Int): String = {
    val content = new StringBuilder("BT /F1 12 Tf 72 720 Td 14 TL\n")
    for ((line, li) <- lines.zipWithIndex) {
      if (li > 0) content ++= "T*\n"
      if (li == spread) content ++= s"[${esc(line).map(c => s"($c)").mkString(" -280 ")}] TJ\n"
      else content ++= s"(${esc(line)}) Tj\n"
    }
    content ++= "ET\n"
    content.result()
  }

  /** The classic file layout: `header`, objects 1–3, each page's dict at
    * 4+2i with its content stream object `streams(i)` at 5+2i, then `extra`
    * objects, the xref table, and a trailer that carries `trailerEntries`
    * after /Size and /Root. */
  private def classic(header: String, streams: Seq[String], extra: Seq[String],
                      trailerEntries: String): Array[Byte] = {
    val objs = headerObjects(streams.indices.map(4 + 2 * _)) ++
      streams.zipWithIndex.flatMap { case (st, i) => Seq(pageDict(5 + 2 * i), st) } ++ extra
    val sb = new StringBuilder(header)
    val offsets = objs.zipWithIndex.map { case (obj, idx) =>
      val off = sb.length
      sb ++= s"${idx + 1} 0 obj\n$obj\nendobj\n"
      off
    }
    val xrefPos = sb.length
    sb ++= s"xref\n0 ${objs.length + 1}\n0000000000 65535 f \n"
    for (off <- offsets) sb ++= f"$off%010d 00000 n \n"
    sb ++= s"trailer\n<< /Size ${objs.length + 1} /Root 1 0 R$trailerEntries >>\nstartxref\n$xrefPos\n%%EOF\n"
    sb.result().getBytes(ISO_8859_1)
  }

  /** Classic uncompressed file of 12 pt pages. `spreadLetterLine` = (1-based
    * page, 0-based line) writes that line as a TJ array with negative
    * kerning between letters — the split-letter artifact the spacing-repair
    * battery targets. */
  def pdfFor(pages: Seq[Seq[String]], spreadLetterLine: Option[(Int, Int)] = None): Array[Byte] =
    classic("%PDF-1.4\n", pages.zipWithIndex.map { case (lines, pi) =>
      val spread = spreadLetterLine.collect { case (p, li) if p == pi + 1 => li }.getOrElse(-1)
      streamObj(lineContent(lines, spread), flate = false)
    }, Nil, "")

  /** PDF 1.5 writer: the SAME page content as [[pdfFor]] but the modern
    * file structure every current producer emits — dictionary objects
    * (catalog, page tree, font, page dicts) compressed inside a /Type
    * /ObjStm, Flate content streams, and offsets in a /Type /XRef
    * cross-reference STREAM with a PNG Up /DecodeParms predictor. No
    * classic `xref` table or `trailer` keyword anywhere. Drives the
    * reader's 1.5 path end-to-end under the DuckDB oracle (q55). */
  def pdfFor15(pages: Seq[Seq[String]]): Array[Byte] = {
    val n = pages.length
    // dict objects 1..3+n live in the ObjStm; content streams are direct
    val contentIds = pages.indices.map(i => 4 + n + i)
    val objStmId = 4 + 2 * n
    val xrefId = objStmId + 1
    val bodies = headerObjects((0 until n).map(4 + _)) ++ contentIds.map(pageDict)
    val offs = bodies.scanLeft(0)(_ + _.length + 1).init
    val header = offs.zipWithIndex.map { case (o, k) => s"${k + 1} $o" }.mkString(" ") + " "
    val objStmPayload = deflate(header + bodies.mkString("\n") + "\n")

    val sb = new StringBuilder("%PDF-1.5\n%âãÏÓ\n")
    val objPos = scala.collection.mutable.HashMap.empty[Int, Int]
    def emit(num: Int, body: String): Unit = {
      objPos(num) = sb.length
      sb ++= s"$num 0 obj\n$body\nendobj\n"
    }
    for ((lines, pi) <- pages.zipWithIndex)
      emit(contentIds(pi), streamObj(lineContent(lines, -1), flate = true))
    emit(objStmId, s"<< /Type /ObjStm /N ${bodies.length} /First ${header.length} " +
      s"/Filter /FlateDecode /Length ${objStmPayload.length} >>\nstream\n$objStmPayload\nendstream")
    // xref stream: W [1 4 2], rows 0..xrefId, PNG Up predictor over 7-byte rows
    val xrefPos = sb.length
    val rowLen = 7
    def row(t: Int, f2: Long, f3: Int): Array[Byte] = Array(
      t.toByte, ((f2 >> 24) & 0xFF).toByte, ((f2 >> 16) & 0xFF).toByte,
      ((f2 >> 8) & 0xFF).toByte, (f2 & 0xFF).toByte,
      ((f3 >> 8) & 0xFF).toByte, (f3 & 0xFF).toByte)
    val rows: Seq[Array[Byte]] =
      Seq(row(0, 0, 0xFFFF)) ++
        bodies.indices.map(k => row(2, objStmId, k)) ++
        contentIds.map(id => row(1, objPos(id), 0)) ++
        Seq(row(1, objPos(objStmId), 0), row(1, xrefPos, 0))
    val filtered = new java.io.ByteArrayOutputStream()
    var prev = new Array[Byte](rowLen)
    for (r <- rows) {
      filtered.write(2) // PNG Up
      var i = 0
      while (i < rowLen) { filtered.write(((r(i) & 0xFF) - (prev(i) & 0xFF)) & 0xFF); i += 1 }
      prev = r
    }
    val packedXref = deflate(new String(filtered.toByteArray, ISO_8859_1))
    sb ++= s"$xrefId 0 obj\n<< /Type /XRef /Size ${xrefId + 1} /W [ 1 4 2 ] /Root 1 0 R " +
      s"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns $rowLen >> " +
      s"/Length ${packedXref.length} >>\nstream\n$packedXref\nendstream\nendobj\n"
    sb ++= s"startxref\n$xrefPos\n%%EOF\n"
    sb.result().getBytes(ISO_8859_1)
  }

  /** Encrypted classic-structure PDF (q59): the SAME page content as
    * [[pdfFor]] but with every content stream encrypted by the standard
    * security handler — empty user password, owner password "owner".
    * `cipher` selects the handler generation a real corpus mixes:
    * "rc4" = V2/R3 RC4-128, "aesv2" = V4/R4 AES-128, "aesv3" = V5/R6
    * AES-256 (Algorithm 2.B). `seed` derives the /ID and IVs
    * deterministically so the oracle's closed forms are stable. */
  def pdfForEncrypted(pages: Seq[Seq[String]], cipher: String, seed: Long): Array[Byte] = {
    val fileId: Array[Byte] =
      (0 until 16).map(k => ((seed >> (k % 8 * 8)) ^ (k * 37)).toByte).toArray
    def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xFF}%02X").mkString
    def ivFor(objNum: Int): Array[Byte] =
      (0 until 16).map(k => ((seed * 31 + objNum * 7 + k) & 0xFF).toByte).toArray

    // handler setup + per-object stream encryptor
    val p = -3904
    val ownerPwd = "owner".getBytes(ISO_8859_1)
    // AES streams: a 16-byte IV, then the CBC ciphertext under the object's key
    def aes(key: Int => Array[Byte])(num: Int, plain: Array[Byte]): Array[Byte] = {
      val iv = ivFor(num)
      iv ++ PdfCrypt.aesCbcEncrypt(key(num), iv, plain, pad = true)
    }
    val (encDict, encryptStream): (String, (Int, Array[Byte]) => Array[Byte]) =
      if (cipher == "rc4" || cipher == "aesv2") {
        val r = if (cipher == "rc4") 3 else 4
        val o = PdfCrypt.computeOwnerEntry(ownerPwd, Array.empty, 16)
        val fileKey = PdfCrypt.fileKeyR234(o, p, fileId, 128, r = r, encryptMetadata = true)
        val ou = s"/O <${hex(o)}> /U <${hex(PdfCrypt.computeUserEntryR34(fileKey, fileId))}> >>"
        if (r == 3)
          (s"<< /Filter /Standard /V 2 /R 3 /Length 128 /P $p " + ou,
            (num, plain) => PdfCrypt.rc4(PdfCrypt.objectKey(fileKey, num, 0, aes = false), plain))
        else
          (s"<< /Filter /Standard /V 4 /R 4 /Length 128 /P $p " +
            "/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> /StmF /StdCF /StrF /StdCF " + ou,
            aes(PdfCrypt.objectKey(fileKey, _, 0, aes = true)))
      } else { // aesv3
        val fileKey = (0 until 32).map(k => ((seed * 13 + k * 41) & 0xFF).toByte).toArray
        val vSalt = (0 until 8).map(k => ((seed + k) & 0xFF).toByte).toArray
        val kSalt = (0 until 8).map(k => ((seed * 7 + k) & 0xFF).toByte).toArray
        val u = PdfCrypt.hash2B(Array.empty, vSalt, Array.empty, r = 6) ++ vSalt ++ kSalt
        val ue = PdfCrypt.aesCbcEncrypt(
          PdfCrypt.hash2B(Array.empty, kSalt, Array.empty, r = 6),
          new Array[Byte](16), fileKey, pad = false)
        (s"<< /Filter /Standard /V 5 /R 6 /Length 256 /P $p " +
          s"/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> /StmF /StdCF " +
          s"/StrF /StdCF /O <${hex(new Array[Byte](48))}> /U <${hex(u)}> " +
          s"/OE <${hex(new Array[Byte](32))}> /UE <${hex(ue)}> >>",
          aes(_ => fileKey))
      }

    val streams = pages.zipWithIndex.map { case (lines, pi) =>
      val enc = encryptStream(5 + pi * 2, lineContent(lines, -1).getBytes(ISO_8859_1))
      streamObj(new String(enc, ISO_8859_1), flate = false)
    }
    // the /Encrypt dictionary is the last object
    classic("%PDF-1.6\n", streams, Seq(encDict),
      s" /Encrypt ${4 + 2 * pages.length} 0 R /ID [ <${hex(fileId)}> <${hex(fileId)}> ]")
  }

  /** One laid-out line: text, font size, vertical gap from previous line.
    * When `cells` is non-empty the line is a table row: (columnX, text)
    * pairs positioned with relative Td moves. */
  case class SizedLine(text: String, size: Double, gapBefore: Double,
                       cells: Seq[(Double, String)] = Nil)

  /** Multi-size writer with optional FlateDecode compression. */
  def pdfSized(pages: Seq[Seq[SizedLine]], compress: Boolean = false): Array[Byte] =
    classic("%PDF-1.4\n", pages.map { lines =>
      val content = new StringBuilder
      content ++= "BT 72 720 Td\n"
      var lastSize = -1.0
      for (line <- lines) {
        if (line.size != lastSize) { content ++= s"/F1 ${line.size} Tf\n"; lastSize = line.size }
        if (line.gapBefore != 0) content ++= s"0 -${line.gapBefore} Td\n"
        if (line.cells.isEmpty) {
          content ++= s"(${esc(line.text)}) Tj\n"
        } else {
          // table row: walk columns with relative moves, then restore x
          val base = 72.0
          var cx = base
          for ((x, text) <- line.cells) {
            val dx = x - cx
            if (dx != 0) content ++= s"$dx 0 Td\n"
            content ++= s"(${esc(text)}) Tj\n"
            cx = x
          }
          if (cx != base) content ++= s"${base - cx} 0 Td\n"
        }
      }
      content ++= "ET\n"
      streamObj(content.result(), flate = compress)
    }, Nil, "")
}
