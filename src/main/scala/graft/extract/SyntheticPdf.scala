package graft.extract

import scala.collection.mutable

/** Minimal deterministic PDF writer for the synthetic corpus: one content
  * stream per page, uncompressed, Helvetica, explicit Td line positioning.
  * `spreadLetters` emits a TJ array with negative kerning between letters —
  * the split-letter artifact the spacing-repair battery targets. */
object SyntheticPdf {
  def pdfFor(pages: Seq[Seq[String]], spreadLetterLine: Option[(Int, Int)] = None): Array[Byte] = {
    val objs = mutable.ArrayBuffer.empty[String]
    val pageObjIds = pages.indices.map(i => 4 + i * 2)
    objs += "<< /Type /Catalog /Pages 2 0 R >>" // 1
    objs += s"<< /Type /Pages /Kids [${pageObjIds.map(id => s"$id 0 R").mkString(" ")}] /Count ${pages.length} >>" // 2
    objs += "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>" // 3
    for ((lines, pi) <- pages.zipWithIndex) {
      val content = new StringBuilder
      content ++= "BT /F1 12 Tf 72 720 Td 14 TL\n"
      for ((line, li) <- lines.zipWithIndex) {
        if (li > 0) content ++= "T*\n"
        val escaped = line.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
        if (spreadLetterLine.contains((pi + 1, li))) {
          // spread every letter with negative kerning: "(f)-280(i)-280(n)..."
          val parts = escaped.map(c => s"($c)").mkString(" -280 ")
          content ++= s"[$parts] TJ\n"
        } else {
          content ++= s"($escaped) Tj\n"
        }
      }
      content ++= "ET\n"
      val cs = content.result()
      objs += s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents ${5 + pi * 2} 0 R " +
        "/Resources << /Font << /F1 3 0 R >> >> >>"
      objs += s"<< /Length ${cs.length} >>\nstream\n$cs\nendstream"
    }
    val sb = new StringBuilder
    sb ++= "%PDF-1.4\n"
    val offsets = mutable.ArrayBuffer.empty[Int]
    for ((obj, idx) <- objs.zipWithIndex) {
      offsets += sb.length
      sb ++= s"${idx + 1} 0 obj\n$obj\nendobj\n"
    }
    val xrefPos = sb.length
    sb ++= s"xref\n0 ${objs.length + 1}\n0000000000 65535 f \n"
    for (off <- offsets) sb ++= f"$off%010d 00000 n \n"
    sb ++= s"trailer\n<< /Size ${objs.length + 1} /Root 1 0 R >>\nstartxref\n$xrefPos\n%%EOF\n"
    sb.result().getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  private def deflate(raw: String): String = {
    val d = new java.util.zip.Deflater()
    d.setInput(raw.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    new String(out.toByteArray, java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  /** PDF 1.5 writer: the SAME page content as [[pdfFor]] but the modern
    * file structure every current producer emits — dictionary objects
    * (catalog, page tree, font, page dicts) compressed inside a /Type
    * /ObjStm, Flate content streams, and offsets in a /Type /XRef
    * cross-reference STREAM with a PNG Up /DecodeParms predictor. No
    * classic `xref` table or `trailer` keyword anywhere. Drives the
    * reader's 1.5 path end-to-end under the DuckDB oracle (q55). */
  def pdfFor15(pages: Seq[Seq[String]]): Array[Byte] = {
    val n = pages.length
    def esc(t: String) = t.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    // dict objects 1..3+n live in the ObjStm; content streams are direct
    val contentIds = pages.indices.map(i => 4 + n + i)
    val objStmId = 4 + 2 * n
    val xrefId = objStmId + 1
    val dictObjs: Seq[(Int, String)] =
      Seq(
        1 -> "<< /Type /Catalog /Pages 2 0 R >>",
        2 -> s"<< /Type /Pages /Kids [${(0 until n).map(i => s"${4 + i} 0 R").mkString(" ")}] /Count $n >>",
        3 -> "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>") ++
        pages.indices.map { i =>
          (4 + i) -> (s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
            s"/Contents ${contentIds(i)} 0 R /Resources << /Font << /F1 3 0 R >> >> >>")
        }
    val bodies = dictObjs.map(_._2)
    val offs = bodies.scanLeft(0)(_ + _.length + 1).init
    val header = dictObjs.map(_._1).zip(offs)
      .map { case (num, o) => s"$num $o" }.mkString(" ") + " "
    val objStmPayload = deflate(header + bodies.mkString("\n") + "\n")

    val sb = new StringBuilder("%PDF-1.5\n%âãÏÓ\n")
    val objPos = mutable.HashMap.empty[Int, Int]
    def emit(num: Int, body: String): Unit = {
      objPos(num) = sb.length
      sb ++= s"$num 0 obj\n$body\nendobj\n"
    }
    for ((lines, pi) <- pages.zipWithIndex) {
      val content = new StringBuilder
      content ++= "BT /F1 12 Tf 72 720 Td 14 TL\n"
      for ((line, li) <- lines.zipWithIndex) {
        if (li > 0) content ++= "T*\n"
        content ++= s"(${esc(line)}) Tj\n"
      }
      content ++= "ET\n"
      val packed = deflate(content.result())
      emit(contentIds(pi),
        s"<< /Length ${packed.length} /Filter /FlateDecode >>\nstream\n$packed\nendstream")
    }
    emit(objStmId, s"<< /Type /ObjStm /N ${dictObjs.length} /First ${header.length} " +
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
        dictObjs.zipWithIndex.map { case ((num, _), k) => row(2, objStmId, k) } ++
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
    val packedXref = deflate(new String(filtered.toByteArray,
      java.nio.charset.StandardCharsets.ISO_8859_1))
    sb ++= s"$xrefId 0 obj\n<< /Type /XRef /Size ${xrefId + 1} /W [ 1 4 2 ] /Root 1 0 R " +
      s"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns $rowLen >> " +
      s"/Length ${packedXref.length} >>\nstream\n$packedXref\nendstream\nendobj\n"
    sb ++= s"startxref\n$xrefPos\n%%EOF\n"
    sb.result().getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  /** Encrypted classic-structure PDF (q59): the SAME page content as
    * [[pdfFor]] but with every content stream encrypted by the standard
    * security handler — empty user password, owner password "owner".
    * `cipher` selects the handler generation a real corpus mixes:
    * "rc4" = V2/R3 RC4-128, "aesv2" = V4/R4 AES-128, "aesv3" = V5/R6
    * AES-256 (Algorithm 2.B). `seed` derives the /ID and IVs
    * deterministically so the oracle's closed forms are stable. */
  def pdfForEncrypted(pages: Seq[Seq[String]], cipher: String, seed: Long): Array[Byte] = {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    val fileId: Array[Byte] =
      (0 until 16).map(k => ((seed >> (k % 8 * 8)) ^ (k * 37)).toByte).toArray
    def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xFF}%02X").mkString
    def ivFor(objNum: Int): Array[Byte] =
      (0 until 16).map(k => ((seed * 31 + objNum * 7 + k) & 0xFF).toByte).toArray

    // handler setup + per-object stream encryptor
    val p = -3904
    val ownerPwd = "owner".getBytes(ISO_8859_1)
    val (encDict, encryptStream): (String, (Int, Array[Byte]) => Array[Byte]) =
      cipher match {
        case "rc4" =>
          val o = PdfCrypt.computeOwnerEntry(ownerPwd, Array.empty, 16)
          val fileKey = PdfCrypt.fileKeyR234(o, p, fileId, 128, r = 3,
            encryptMetadata = true)
          val u = PdfCrypt.computeUserEntryR34(fileKey, fileId)
          (s"<< /Filter /Standard /V 2 /R 3 /Length 128 /P $p " +
            s"/O <${hex(o)}> /U <${hex(u)}> >>",
            (num: Int, plain: Array[Byte]) =>
              PdfCrypt.rc4(PdfCrypt.objectKey(fileKey, num, 0, aes = false), plain))
        case "aesv2" =>
          val o = PdfCrypt.computeOwnerEntry(ownerPwd, Array.empty, 16)
          val fileKey = PdfCrypt.fileKeyR234(o, p, fileId, 128, r = 4,
            encryptMetadata = true)
          val u = PdfCrypt.computeUserEntryR34(fileKey, fileId)
          (s"<< /Filter /Standard /V 4 /R 4 /Length 128 /P $p " +
            s"/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> /StmF /StdCF " +
            s"/StrF /StdCF /O <${hex(o)}> /U <${hex(u)}> >>",
            (num: Int, plain: Array[Byte]) => {
              val iv = ivFor(num)
              iv ++ PdfCrypt.aesCbcEncrypt(
                PdfCrypt.objectKey(fileKey, num, 0, aes = true), iv, plain, pad = true)
            })
        case _ => // aesv3
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
            (num: Int, plain: Array[Byte]) => {
              val iv = ivFor(num)
              iv ++ PdfCrypt.aesCbcEncrypt(fileKey, iv, plain, pad = true)
            })
      }

    val objs = mutable.ArrayBuffer.empty[String]
    objs += "<< /Type /Catalog /Pages 2 0 R >>" // 1
    objs += s"<< /Type /Pages /Kids [${pages.indices.map(i => s"${4 + i * 2} 0 R").mkString(" ")}] /Count ${pages.length} >>" // 2
    objs += "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>" // 3
    for ((lines, pi) <- pages.zipWithIndex) {
      val content = new StringBuilder
      content ++= "BT /F1 12 Tf 72 720 Td 14 TL\n"
      for ((line, li) <- lines.zipWithIndex) {
        if (li > 0) content ++= "T*\n"
        val escaped = line.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
        content ++= s"($escaped) Tj\n"
      }
      content ++= "ET\n"
      val streamObjNum = 5 + pi * 2
      val enc = encryptStream(streamObjNum, content.result().getBytes(ISO_8859_1))
      objs += s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents $streamObjNum 0 R " +
        "/Resources << /Font << /F1 3 0 R >> >> >>"
      objs += s"<< /Length ${enc.length} >>\nstream\n" +
        new String(enc, ISO_8859_1) + "\nendstream"
    }
    objs += encDict // last object
    val sb = new StringBuilder
    sb ++= "%PDF-1.6\n"
    val offsets = mutable.ArrayBuffer.empty[Int]
    for ((obj, idx) <- objs.zipWithIndex) {
      offsets += sb.length
      sb ++= s"${idx + 1} 0 obj\n$obj\nendobj\n"
    }
    val xrefPos = sb.length
    sb ++= s"xref\n0 ${objs.length + 1}\n0000000000 65535 f \n"
    for (off <- offsets) sb ++= f"$off%010d 00000 n \n"
    sb ++= s"trailer\n<< /Size ${objs.length + 1} /Root 1 0 R " +
      s"/Encrypt ${objs.length} 0 R /ID [ <${hex(fileId)}> <${hex(fileId)}> ] >>" +
      s"\nstartxref\n$xrefPos\n%%EOF\n"
    sb.result().getBytes(ISO_8859_1)
  }

  /** One laid-out line: text, font size, vertical gap from previous line.
    * When `cells` is non-empty the line is a table row: (columnX, text)
    * pairs positioned with relative Td moves. */
  case class SizedLine(text: String, size: Double, gapBefore: Double,
                       cells: Seq[(Double, String)] = Nil)

  /** Multi-size writer with optional FlateDecode compression. */
  def pdfSized(pages: Seq[Seq[SizedLine]], compress: Boolean = false): Array[Byte] = {
    val objs = mutable.ArrayBuffer.empty[String]
    val pageObjIds = pages.indices.map(i => 4 + i * 2)
    objs += "<< /Type /Catalog /Pages 2 0 R >>"
    objs += s"<< /Type /Pages /Kids [${pageObjIds.map(id => s"$id 0 R").mkString(" ")}] /Count ${pages.length} >>"
    objs += "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    for ((lines, pi) <- pages.zipWithIndex) {
      val content = new StringBuilder
      content ++= "BT 72 720 Td\n"
      var lastSize = -1.0
      def esc(t: String) = t.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
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
      val cs = content.result()
      objs += s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents ${5 + pi * 2} 0 R " +
        "/Resources << /Font << /F1 3 0 R >> >> >>"
      if (compress) {
        val deflater = new java.util.zip.Deflater()
        val raw = cs.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
        deflater.setInput(raw); deflater.finish()
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        while (!deflater.finished()) out.write(buf, 0, deflater.deflate(buf))
        deflater.end()
        val packed = new String(out.toByteArray, java.nio.charset.StandardCharsets.ISO_8859_1)
        objs += s"<< /Length ${packed.length} /Filter /FlateDecode >>\nstream\n$packed\nendstream"
      } else {
        objs += s"<< /Length ${cs.length} >>\nstream\n$cs\nendstream"
      }
    }
    val sb = new StringBuilder
    sb ++= "%PDF-1.4\n"
    val offsets = mutable.ArrayBuffer.empty[Int]
    for ((obj, idx2) <- objs.zipWithIndex) {
      offsets += sb.length
      sb ++= s"${idx2 + 1} 0 obj\n$obj\nendobj\n"
    }
    val xrefPos = sb.length
    sb ++= s"xref\n0 ${objs.length + 1}\n0000000000 65535 f \n"
    for (off <- offsets) sb ++= f"$off%010d 00000 n \n"
    sb ++= s"trailer\n<< /Size ${objs.length + 1} /Root 1 0 R >>\nstartxref\n$xrefPos\n%%EOF\n"
    sb.result().getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }
}
