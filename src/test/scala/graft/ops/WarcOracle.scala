package graft.ops

import graft.sources.WarcSource.WarcRecord
import java.nio.charset.StandardCharsets.ISO_8859_1

/** Frozen whole-buffer WARC parser: gunzip the file to one array, scan a
  * String copy of it for "WARC/", headers to \r\n\r\n, Content-Length
  * payload, and stop at the first malformed or truncated record. Written out
  * with its own header and HTTP split, so a change to the streaming parser
  * in [[graft.sources.WarcSource]] cannot carry its reference along. It
  * holds the whole segment several times over, so it is a parity oracle for
  * specs, not a reader. */
object WarcOracle {
  private def isGzip(b: Array[Byte]): Boolean =
    b.length >= 2 && (b(0) & 0xFF) == 0x1F && (b(1) & 0xFF) == 0x8B

  private def gunzipAll(b: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(b), 1 << 16)
    val out = new java.io.ByteArrayOutputStream(b.length * 4)
    val buf = new Array[Byte](1 << 16)
    var n = in.read(buf)
    while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    out.toByteArray
  }

  /** Every record of one WARC file (gzip-sniffed); a malformed tail
    * degrades to the records parsed so far. */
  def parseRecords(fileBytes: Array[Byte]): Seq[WarcRecord] = {
    val bytes = try {
      if (isGzip(fileBytes)) gunzipAll(fileBytes) else fileBytes
    } catch { case _: Exception => fileBytes }
    val s = new String(bytes, ISO_8859_1)
    val out = scala.collection.mutable.ArrayBuffer.empty[WarcRecord]
    var pos = 0
    var ok = true
    while (ok) {
      val start = s.indexOf("WARC/", pos)
      if (start < 0) ok = false
      else {
        val headerEnd = s.indexOf("\r\n\r\n", start)
        if (headerEnd < 0) ok = false
        else {
          val headers = s.substring(start, headerEnd).split("\r\n").drop(1)
            .flatMap { line =>
              val k = line.indexOf(':')
              if (k < 0) None else Some(line.substring(0, k).trim.toLowerCase ->
                line.substring(k + 1).trim)
            }.toMap
          val len = headers.get("content-length").flatMap(_.toIntOption).getOrElse(-1)
          val payloadStart = headerEnd + 4
          // Long bound: a near-Int.MaxValue length would overflow
          // payloadStart + len to negative
          if (len < 0 || payloadStart.toLong + len > s.length) ok = false // truncated
          else {
            val payload = bytes.slice(payloadStart, payloadStart + len)
            val (status, cType, body) = httpParts(payload,
              headers.getOrElse("content-type", ""))
            out += WarcRecord(
              warcType = headers.getOrElse("warc-type", ""),
              targetUri = headers.getOrElse("warc-target-uri", ""),
              date = headers.getOrElse("warc-date", ""),
              httpStatus = status, httpContentType = cType, body = body)
            pos = payloadStart + len
          }
        }
      }
    }
    out.toSeq
  }

  /** (status, content-type, body) of an application/http payload; other
    * payloads pass through whole. */
  private def httpParts(payload: Array[Byte], recordContentType: String)
      : (Int, String, Array[Byte]) = {
    if (!recordContentType.startsWith("application/http"))
      return (0, recordContentType, payload)
    val s = new String(payload, ISO_8859_1)
    val headerEnd = s.indexOf("\r\n\r\n")
    if (headerEnd < 0 || !s.startsWith("HTTP/")) return (0, recordContentType, payload)
    val lines = s.substring(0, headerEnd).split("\r\n")
    val status = lines.head.split(" ").lift(1).flatMap(_.toIntOption).getOrElse(0)
    val cType = lines.drop(1).collectFirst {
      case l if l.toLowerCase.startsWith("content-type:") =>
        l.substring("content-type:".length).trim
    }.getOrElse("")
    (status, cType, payload.drop(headerEnd + 4))
  }
}
