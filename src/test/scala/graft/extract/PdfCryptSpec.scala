package graft.extract

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.security.MessageDigest
import javax.crypto.Cipher
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}
import org.scalatest.funsuite.AnyFunSuite

/** Encrypted PDFs (ISO 32000 standard security handler, empty user
  * password) and legacy stream filters. Fixtures are encrypted with the
  * spec's own algorithms (2/3/5 for RC4/AES-128; 2.B + /UE wrap for
  * AES-256) so a decode proves the full derivation chain, not a
  * hand-matched constant. */
class PdfCryptSpec extends AnyFunSuite {
  private val Content = "BT /F1 12 Tf 10 150 Td (SECRET) Tj ET"
  private val FileId: Array[Byte] = (1 to 16).map(_.toByte).toArray

  private def md5(parts: Array[Byte]*): Array[Byte] = {
    val d = MessageDigest.getInstance("MD5")
    parts.foreach(d.update)
    d.digest()
  }
  // Algorithms 3/5 live in PdfCrypt (the writer half also used by
  // SyntheticPdf.pdfForEncrypted) — the spec must not keep its own copy
  private def computeO(ownerPwd: String, userPwd: String, n: Int): Array[Byte] =
    PdfCrypt.computeOwnerEntry(ownerPwd.getBytes(ISO_8859_1),
      userPwd.getBytes(ISO_8859_1), n)
  private def computeU(fileKey: Array[Byte]): Array[Byte] =
    PdfCrypt.computeUserEntryR34(fileKey, FileId)
  private def pad32(pwd: String): Array[Byte] =
    PdfCrypt.pad32(pwd.getBytes(ISO_8859_1))

  private def aesEncrypt(key: Array[Byte], iv: Array[Byte],
                         plain: Array[Byte], pad: Boolean): Array[Byte] = {
    val c = Cipher.getInstance(if (pad) "AES/CBC/PKCS5Padding" else "AES/CBC/NoPadding")
    c.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(key, "AES"), new IvParameterSpec(iv))
    c.doFinal(plain)
  }

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xFF}%02X").mkString

  /** Assemble a classic-xref 1-page PDF whose content stream is `body`
    * with the given extra dict entries, plus an /Encrypt dict. */
  private def assemble(encDict: String, body: Array[Byte],
                       streamDictExtra: String = ""): Array[Byte] = {
    val sb = new StringBuilder("%PDF-1.6\n")
    val off = scala.collection.mutable.HashMap.empty[Int, Int]
    def obj(n: Int, bodyStr: String): Unit = {
      off(n) = sb.length
      sb ++= s"$n 0 obj\n$bodyStr\nendobj\n"
    }
    obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    obj(2, "<< /Type /Pages /Count 1 /Kids [ 3 0 R ] >>")
    obj(3, "<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 300 200 ] " +
      "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>")
    val bodyStr = new String(body, ISO_8859_1)
    obj(4, s"<< /Length ${body.length} $streamDictExtra >>\nstream\n$bodyStr\nendstream")
    obj(5, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    obj(6, encDict)
    val xrefPos = sb.length
    sb ++= "xref\n0 7\n0000000000 65535 f \n"
    for (n <- 1 to 6) sb ++= f"${off(n)}%010d 00000 n \n"
    sb ++= s"trailer\n<< /Size 7 /Root 1 0 R /Encrypt 6 0 R " +
      s"/ID [ <${hex(FileId)}> <${hex(FileId)}> ] >>\nstartxref\n$xrefPos\n%%EOF\n"
    sb.result().getBytes(ISO_8859_1)
  }

  private def textOf(pdf: Array[Byte]): String =
    PdfDoc.extractGlyphsAuto(pdf).values.flatten.map(_.c).mkString

  // ------------------------------------------------------------------ RC4
  private def rc4Pdf(userPwd: String): Array[Byte] = {
    val p = -44
    val o = computeO("owner", userPwd, 16)
    val fileKey = {
      // Algorithm 2 with the real user password (fixture side)
      var h = md5(pad32(userPwd), o, Array(
        (p & 0xFF).toByte, ((p >> 8) & 0xFF).toByte,
        ((p >> 16) & 0xFF).toByte, ((p >> 24) & 0xFF).toByte), FileId)
      var k = 0
      while (k < 50) { h = md5(h.take(16)); k += 1 }
      h.take(16)
    }
    val u = computeU(fileKey)
    val cipher = PdfCrypt.rc4(
      PdfCrypt.objectKey(fileKey, 4, 0, aes = false), Content.getBytes(ISO_8859_1))
    assemble(
      s"<< /Filter /Standard /V 2 /R 3 /Length 128 /P $p " +
        s"/O <${hex(o)}> /U <${hex(u)}> >>", cipher)
  }

  test("RC4-128 (V2/R3) empty user password decrypts end-to-end") {
    assert(textOf(rc4Pdf("")) == "SECRET")
  }

  test("/Encrypt and /ID in only one of two trailers still decrypt") {
    val pdf = new String(rc4Pdf(""), ISO_8859_1)
    val t = pdf.lastIndexOf("trailer")
    val full = pdf.substring(t, pdf.indexOf(">>", t) + 2)
    val bare = "trailer\n<< /Size 7 /Root 1 0 R >>"
    // an incremental update whose trailer repeats neither entry
    val later = pdf + bare + "\n%%EOF\n"
    assert(textOf(later.getBytes(ISO_8859_1)) == "SECRET")
    // the first trailer holds neither entry, the second holds both
    val earlier = pdf.substring(0, t) + bare + "\n" + pdf.substring(t)
    assert(textOf(earlier.getBytes(ISO_8859_1)) == "SECRET")
    // a later trailer with another /ID: the first /ID keys the file
    val otherId = hex((101 to 116).map(_.toByte).toArray)
    val reId = pdf + s"trailer\n<< /Size 7 /Root 1 0 R /Encrypt 6 0 R /ID [ <$otherId> <$otherId> ] >>\n%%EOF\n"
    assert(textOf(reId.getBytes(ISO_8859_1)) == "SECRET")
  }

  test("RC4 with a REAL user password degrades to no text, never throws") {
    val pdf = rc4Pdf("secret")
    assert(textOf(pdf).isEmpty)
  }

  // ---------------------------------------------------------------- AESV2
  test("AES-128 (V4/R4 /AESV2 crypt filter) empty user password decrypts") {
    val p = -3904
    val o = computeO("owner", "", 16)
    val fileKey = PdfCrypt.fileKeyR234(o, p, FileId, 128, r = 4,
      encryptMetadata = true)
    val u = computeU(fileKey)
    val iv = (100 to 115).map(_.toByte).toArray
    val objKey = PdfCrypt.objectKey(fileKey, 4, 0, aes = true)
    val body = iv ++ aesEncrypt(objKey, iv, Content.getBytes(ISO_8859_1), pad = true)
    val pdf = assemble(
      s"<< /Filter /Standard /V 4 /R 4 /Length 128 /P $p " +
        s"/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> " +
        s"/StmF /StdCF /StrF /StdCF /O <${hex(o)}> /U <${hex(u)}> >>", body)
    assert(textOf(pdf) == "SECRET")
  }

  // ---------------------------------------------------------------- AESV3
  test("AES-256 (V5/R6 /AESV3) empty user password via algorithm 2.B") {
    val fileKey = (0 until 32).map(i => (i * 7 + 3).toByte).toArray
    val vSalt = (1 to 8).map(_.toByte).toArray
    val kSalt = (9 to 16).map(_.toByte).toArray
    val uHash = PdfCrypt.hash2B(Array.empty, vSalt, Array.empty, r = 6)
    val u = uHash ++ vSalt ++ kSalt
    val intermediate = PdfCrypt.hash2B(Array.empty, kSalt, Array.empty, r = 6)
    val ue = aesEncrypt(intermediate, new Array[Byte](16), fileKey, pad = false)
    val o = new Array[Byte](48) // owner entries unused for user-pwd auth
    val oe = new Array[Byte](32)
    val iv = (50 to 65).map(_.toByte).toArray
    val body = iv ++ aesEncrypt(fileKey, iv, Content.getBytes(ISO_8859_1), pad = true)
    val pdf = assemble(
      s"<< /Filter /Standard /V 5 /R 6 /Length 256 /P -4 " +
        s"/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> " +
        s"/StmF /StdCF /StrF /StdCF /O <${hex(o)}> /U <${hex(u)}> " +
        s"/OE <${hex(oe)}> /UE <${hex(ue)}> >>", body)
    assert(textOf(pdf) == "SECRET")
  }

  test("unknown security handler degrades to no text") {
    val pdf = assemble("<< /Filter /MyCustomDRM /V 9 >>",
      Content.getBytes(ISO_8859_1))
    assert(textOf(pdf).isEmpty)
  }

  // ------------------------------------------------------- legacy filters
  /** Minimal PDF-flavor LZW encoder (9->12-bit codes, EarlyChange=1) for
    * fixture round trips. */
  private def lzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L
    var bitCnt = 0
    var codeWidth = 9
    def emit(code: Int): Unit = {
      bitBuf = (bitBuf << codeWidth) | code
      bitCnt += codeWidth
      while (bitCnt >= 8) {
        out.write(((bitBuf >> (bitCnt - 8)) & 0xFF).toInt)
        bitCnt -= 8
      }
    }
    val dict = scala.collection.mutable.HashMap.empty[Seq[Byte], Int]
    for (i <- 0 until 256) dict(Seq(i.toByte)) = i
    var nextCode = 258
    emit(256) // clear table
    var cur = Seq.empty[Byte]
    for (b <- data) {
      val ext = cur :+ b
      if (dict.contains(ext)) cur = ext
      else {
        emit(dict(cur))
        dict(ext) = nextCode
        nextCode += 1
        // EarlyChange=1: width bumps when the NEXT code would not fit
        if (nextCode + 1 > (1 << codeWidth) && codeWidth < 12) codeWidth += 1
        cur = Seq(b)
      }
    }
    if (cur.nonEmpty) emit(dict(cur))
    emit(257) // EOD
    if (bitCnt > 0) out.write(((bitBuf << (8 - bitCnt)) & 0xFF).toInt)
    out.toByteArray
  }

  test("LZWDecode round-trips the encoder across the 9->10 bit boundary") {
    // >255 distinct-extension sequence forces code-width growth
    val data = (0 until 2000).map(i => ((i * 31) % 251).toByte).toArray
    assert(PdfFilters.lzwDecode(lzwEncode(data)).toSeq == data.toSeq)
  }

  test("LZW content stream end-to-end in a PDF") {
    val sb = new StringBuilder("%PDF-1.2\n")
    val body = lzwEncode(Content.getBytes(ISO_8859_1))
    sb ++= "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
    sb ++= "2 0 obj\n<< /Type /Pages /Count 1 /Kids [ 3 0 R ] >>\nendobj\n"
    sb ++= "3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 300 200 ] " +
      "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>\nendobj\n"
    sb ++= s"4 0 obj\n<< /Length ${body.length} /Filter /LZWDecode >>\nstream\n"
    sb ++= new String(body, ISO_8859_1)
    sb ++= "\nendstream\nendobj\n"
    sb ++= "5 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>\nendobj\n"
    val pdf = sb.result().getBytes(ISO_8859_1)
    assert(textOf(pdf) == "SECRET")
  }

  test("RunLengthDecode: literals, runs, EOD") {
    val enc = Array[Byte](2, 'a', 'b', 'c', (257 - 5).toByte, 'x', 0, 'z', 128.toByte, 99)
    assert(new String(PdfFilters.runLengthDecode(enc), ISO_8859_1) == "abcxxxxxz")
  }

  test("ASCIIHexDecode: whitespace, EOD, odd-digit padding") {
    assert(new String(PdfFilters.asciiHexDecode(
      "48 65 6C\n6C 6F 3E".getBytes(ISO_8859_1)), ISO_8859_1) == "Hello>")
    assert(new String(PdfFilters.asciiHexDecode(
      "48656C6C6F> junk".getBytes(ISO_8859_1)), ISO_8859_1) == "Hello")
    assert(PdfFilters.asciiHexDecode("7".getBytes(ISO_8859_1)).toSeq ==
      Seq(0x70.toByte))
  }

  test("ASCII85Decode: standard vector, z shortcut, partial group") {
    // "Man " encodes to 9jqo^ in base-85
    assert(new String(PdfFilters.ascii85Decode(
      "9jqo^~>".getBytes(ISO_8859_1)), ISO_8859_1) == "Man ")
    assert(PdfFilters.ascii85Decode("z~>".getBytes(ISO_8859_1)).toSeq ==
      Seq[Byte](0, 0, 0, 0))
    // 3-char partial group -> 2 bytes
    assert(PdfFilters.ascii85Decode("9jq~>".getBytes(ISO_8859_1)).length == 2)
  }

  test("chained filters: [ASCII85 + Flate] decode in order") {
    val deflated = {
      val d = new java.util.zip.Deflater()
      d.setInput(Content.getBytes(ISO_8859_1)); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](1024)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    }
    // encode to ascii85
    val enc = new StringBuilder
    var i = 0
    while (i < deflated.length) {
      val chunk = deflated.slice(i, i + 4)
      val padded = chunk ++ Array.fill(4 - chunk.length)(0.toByte)
      var v = 0L
      for (b <- padded) v = (v << 8) | (b & 0xFF)
      val digits = new Array[Char](5)
      var k = 4
      while (k >= 0) { digits(k) = ('!' + (v % 85).toInt).toChar; v /= 85; k -= 1 }
      enc ++= new String(digits.take(if (chunk.length == 4) 5 else chunk.length + 1))
      i += 4
    }
    enc ++= "~>"
    val sb = new StringBuilder("%PDF-1.2\n")
    sb ++= "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
    sb ++= "2 0 obj\n<< /Type /Pages /Count 1 /Kids [ 3 0 R ] >>\nendobj\n"
    sb ++= "3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 300 200 ] " +
      "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>\nendobj\n"
    sb ++= s"4 0 obj\n<< /Length ${enc.length} " +
      "/Filter [ /ASCII85Decode /FlateDecode ] >>\nstream\n"
    sb ++= enc
    sb ++= "\nendstream\nendobj\n"
    sb ++= "5 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>\nendobj\n"
    assert(textOf(sb.result().getBytes(ISO_8859_1)) == "SECRET")
  }

  test("PDF 1.5 + encryption: AES content stream, encrypted ObjStm font, plaintext xref stream") {
    // the modern producer shape: xref STREAM (never encrypted, carries
    // /Encrypt + /ID in its trailer dict), font inside an ENCRYPTED ObjStm,
    // AES-128 content. Exercises decryptor construction from the xref-stream
    // dict and ObjStm decryption ordering.
    val p = -3904
    val o = computeO("owner", "", 16)
    val fileKey = PdfCrypt.fileKeyR234(o, p, FileId, 128, r = 4, encryptMetadata = true)
    val u = computeU(fileKey)
    def enc(objNum: Int, plain: Array[Byte]): Array[Byte] = {
      val iv = (objNum * 3 to objNum * 3 + 15).map(_.toByte).toArray
      iv ++ aesEncrypt(PdfCrypt.objectKey(fileKey, objNum, 0, aes = true), iv, plain, pad = true)
    }
    val contentCipher = enc(4, Content.getBytes(ISO_8859_1))
    val objStmHeader = "5 0 "
    val objStmPlain = objStmHeader + "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    val objStmCipher = enc(7, objStmPlain.getBytes(ISO_8859_1))

    val sb = new StringBuilder("%PDF-1.6\n")
    val off = scala.collection.mutable.HashMap.empty[Int, Int]
    def obj(n: Int, body: String): Unit = {
      off(n) = sb.length
      sb ++= s"$n 0 obj\n$body\nendobj\n"
    }
    obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    obj(2, "<< /Type /Pages /Count 1 /Kids [ 3 0 R ] >>")
    obj(3, "<< /Type /Page /Parent 2 0 R /MediaBox [ 0 0 300 200 ] " +
      "/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>")
    obj(4, s"<< /Length ${contentCipher.length} >>\nstream\n" +
      new String(contentCipher, ISO_8859_1) + "\nendstream")
    obj(7, s"<< /Type /ObjStm /N 1 /First ${objStmHeader.length} " +
      s"/Length ${objStmCipher.length} >>\nstream\n" +
      new String(objStmCipher, ISO_8859_1) + "\nendstream")
    obj(8, s"<< /Filter /Standard /V 4 /R 4 /Length 128 /P $p " +
      s"/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> " +
      s"/StmF /StdCF /StrF /StdCF /O <${hex(o)}> /U <${hex(u)}> >>")
    // xref stream: W [1 4 2], objects 0..8 (6 = the xref stream itself)
    val xrefPos = sb.length
    def row(t: Int, f2: Long, f3: Int): Array[Byte] = Array(
      t.toByte, ((f2 >> 24) & 0xFF).toByte, ((f2 >> 16) & 0xFF).toByte,
      ((f2 >> 8) & 0xFF).toByte, (f2 & 0xFF).toByte,
      ((f3 >> 8) & 0xFF).toByte, (f3 & 0xFF).toByte)
    val rows = Array(
      row(0, 0, 0xFFFF), row(1, off(1), 0), row(1, off(2), 0), row(1, off(3), 0),
      row(1, off(4), 0), row(2, 7, 0), row(1, xrefPos, 0), row(1, off(7), 0),
      row(1, off(8), 0))
    val xrefData = {
      val raw = rows.flatten
      val d = new java.util.zip.Deflater()
      d.setInput(raw); d.finish()
      val outB = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](1024)
      while (!d.finished()) outB.write(buf, 0, d.deflate(buf))
      new String(outB.toByteArray, ISO_8859_1)
    }
    sb ++= s"6 0 obj\n<< /Type /XRef /Size 9 /W [ 1 4 2 ] /Root 1 0 R " +
      s"/Encrypt 8 0 R /ID [ <${hex(FileId)}> <${hex(FileId)}> ] " +
      s"/Filter /FlateDecode /Length ${xrefData.length} >>\nstream\n$xrefData\nendstream\nendobj\n"
    sb ++= s"startxref\n$xrefPos\n%%EOF\n"
    assert(textOf(sb.result().getBytes(ISO_8859_1)) == "SECRET")
  }

  test("/Crypt filter with Identity name: stream stored plaintext, not 'decrypted'") {
    // an encrypted file whose content stream is marked /Crypt-Identity
    // (ISO 32000-1 section 7.4.10) must pass through undecrypted
    val p = -44
    val o = computeO("owner", "", 16)
    val fileKey = {
      var h = md5(pad32(""), o, Array(
        (p & 0xFF).toByte, ((p >> 8) & 0xFF).toByte,
        ((p >> 16) & 0xFF).toByte, ((p >> 24) & 0xFF).toByte), FileId)
      var k = 0
      while (k < 50) { h = md5(h.take(16)); k += 1 }
      h.take(16)
    }
    val u = computeU(fileKey)
    // content stream stored PLAINTEXT with the Crypt-Identity marker
    val pdf = assemble(
      s"<< /Filter /Standard /V 2 /R 3 /Length 128 /P $p " +
        s"/O <${hex(o)}> /U <${hex(u)}> >>",
      Content.getBytes(ISO_8859_1),
      streamDictExtra = "/Filter /Crypt /DecodeParms << /Name /Identity >>")
    assert(textOf(pdf) == "SECRET")
  }

  test("encrypted-but-unlocked docs never fall back to the raw byte scan") {
    // an encrypted file whose page tree is corrupted yields no page; an
    // unreferenced PLAINTEXT decoy stream would become a pseudo-page — the
    // encrypted flag must suppress it
    val base = rc4Pdf("")
    val s = new String(base, ISO_8859_1)
    val corrupted = s.replace("/Type /Pages", "/Type /Pagez") // breaks the tree walk
    val decoy = "90 0 obj\n<< /Length 34 >>\nstream\nBT /F1 12 Tf (LEAK) Tj ET\nendstream\nendobj\n"
    val at = corrupted.indexOf("xref")
    val mutated = (corrupted.substring(0, at) + decoy + corrupted.substring(at))
      .getBytes(ISO_8859_1)
    assert(!textOf(mutated).contains("LEAK"))
  }

  // --------------------------------------------------------- robustness
  test("bit-flipped encrypted PDFs degrade, never throw") {
    val base = rc4Pdf("")
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 200) {
      val mutated = base.clone()
      val at = rnd.nextInt(mutated.length)
      mutated(at) = (mutated(at) ^ (1 << rnd.nextInt(8))).toByte
      PdfDoc.extractGlyphsAuto(mutated) // must not throw
    }
  }

  test("truncated filter payloads degrade, never throw") {
    val data = (0 until 500).map(i => (i % 251).toByte).toArray
    val lzw = lzwEncode(data)
    for (cut <- 0 until lzw.length) PdfFilters.lzwDecode(lzw.take(cut))
    PdfFilters.runLengthDecode(Array[Byte](5, 'a')) // lying literal length
    PdfFilters.runLengthDecode(Array[Byte](200.toByte)) // run with no byte
    PdfFilters.ascii85Decode("9".getBytes(ISO_8859_1)) // lone trailing char
  }
}
