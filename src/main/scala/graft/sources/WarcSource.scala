package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

/** WARC (ISO 28500) source — the container Common-Crawl ships pages in.
  * A crawl dump is a sequence of records, each
  *
  *   WARC/1.0\r\n <headers> \r\n\r\n <payload> \r\n\r\n
  *
  * where response-record payloads are full HTTP responses (status line +
  * headers + body). Files may be plain or per-record-gzip (`.warc.gz`;
  * java.util.zip handles the concatenated members natively).
  *
  * Spark mapping: `spark.read.format("binaryFile")` over the file glob,
  * then a per-partition record scan — the same mapPartitions batch shape
  * the extraction pipeline uses, so `readWarc(...)` plugs directly into
  * `Pipeline.extract`. Scale note: binaryFile holds one file per row, so
  * partition granularity is the FILE (the standard 1 GiB crawl segment);
  * a production deployment over multi-TiB dumps keeps that granularity
  * and relies on many files, exactly like Common Crawl's 64k-segment
  * layout — no driver-side work, no unsplittable giant rows beyond the
  * segment size the crawler already chose.
  */
object WarcSource {
  final case class WarcRecord(
      warcType: String, targetUri: String, date: String,
      httpStatus: Int, httpContentType: String, body: Array[Byte])

  /** The record parser: parses records incrementally from a (possibly
    * gzipped, per-record or whole-file) stream, so per-task memory is
    * bounded by the largest record, not by the decompressed segment. Scan
    * for the literal "WARC/", headers to \r\n\r\n, Content-Length
    * payload; any malformed or truncated point degrades to the records
    * parsed so far, so a truncated crawl segment cannot kill the partition.
    * Headers are capped at 4 MiB (a spec-conforming header is a few hundred
    * bytes), and a payload buffer grows only as its bytes arrive
    * ([[readPayload]]), so a record costs the bytes it holds, whatever
    * Content-Length claims. The stream is closed when the iterator ends. */
  def parseRecordsStream(raw: java.io.InputStream): Iterator[WarcRecord] = {
    val MaxHeaderBytes = 4 << 20
    val bis = new java.io.BufferedInputStream(raw, 1 << 16)
    // mark limit > the GZIP constructor's largest possible single buffered
    // read (1 << 16), so the raw fallback's reset stays valid
    bis.mark(1 << 17)
    val b0 = bis.read(); val b1 = bis.read()
    bis.reset()
    val in: java.io.InputStream =
      if (b0 == 0x1F && b1 == 0x8B)
        try new java.util.zip.GZIPInputStream(bis, 1 << 16)
        catch {
          case _: Exception => // mirror the raw fallback; degrade if unresettable
            try { bis.reset(); bis }
            catch { case _: Exception =>
              new java.io.ByteArrayInputStream(Array.emptyByteArray)
            }
        }
      else bis
    val marker = Array[Byte]('W', 'A', 'R', 'C', '/')

    new scala.collection.AbstractIterator[WarcRecord] {
      private var nextRec: WarcRecord = null
      private var done = false
      private def finish(): Unit = {
        done = true
        try in.close() catch { case _: Exception => }
      }
      private def advance(): Unit = {
        try {
          // [1] scan for the record marker, constant state
          var m = 0
          var b = in.read()
          while (b >= 0 && m < marker.length) {
            if (b == marker(m)) m += 1
            else m = if (b == marker(0)) 1 else 0
            if (m < marker.length) b = in.read()
          }
          if (m < marker.length) { finish(); return }
          // [2] header bytes up to \r\n\r\n (bounded)
          val hdr = new java.io.ByteArrayOutputStream(512)
          hdr.write(marker, 0, marker.length)
          var state = 0
          var hb = in.read()
          while (hb >= 0 && state < 4 && hdr.size < MaxHeaderBytes) {
            hdr.write(hb)
            state =
              if (hb == 13) { if (state == 2) 3 else 1 }
              else if (hb == 10) { if (state == 1) 2 else if (state == 3) 4 else 0 }
              else 0
            if (state < 4) hb = in.read()
          }
          if (state < 4) { finish(); return }
          val headers = headerMap(new String(hdr.toByteArray, 0, hdr.size - 4, ISO_8859_1))
          val len = headers.get("content-length").flatMap(_.toIntOption).getOrElse(-1)
          if (len < 0) { finish(); return }
          // [3] exactly len payload bytes; EOF before that = truncated tail
          val payload = readPayload(in, len)
          if (payload == null) { finish(); return }
          val (status, cType, body) = httpParts(payload,
            headers.getOrElse("content-type", ""))
          nextRec = WarcRecord(
            warcType = headers.getOrElse("warc-type", ""),
            targetUri = headers.getOrElse("warc-target-uri", ""),
            date = headers.getOrElse("warc-date", ""),
            httpStatus = status, httpContentType = cType, body = body)
        } catch { case _: Exception => finish() }
      }
      override def hasNext: Boolean = {
        if (nextRec == null && !done) advance()
        nextRec != null
      }
      override def next(): WarcRecord = {
        if (!hasNext) throw new NoSuchElementException("end of WARC stream")
        val r = nextRec; nextRec = null; r
      }
    }
  }

  /** A record's header fields, keyed by lower-cased name; the first line
    * (the `WARC/` version) and lines without a ':' are skipped. */
  private def headerMap(block: String): Map[String, String] =
    block.split("\r\n").iterator.drop(1).flatMap { line =>
      val k = line.indexOf(':')
      if (k < 0) None
      else Some(line.substring(0, k).trim.toLowerCase -> line.substring(k + 1).trim)
    }.toMap

  /** Exactly `len` bytes of `in`, or null when the stream ends first. The
    * buffer starts at min(len, 64 KiB) and doubles, up to `len`, only when
    * full, so a header that claims more than the stream holds costs about
    * the bytes that are there, not `len`. */
  private def readPayload(in: java.io.InputStream, len: Int): Array[Byte] = {
    var buf = new Array[Byte](math.min(len, 1 << 16))
    var off = 0
    var n = 0
    while (off < len && n >= 0) {
      if (off == buf.length)
        buf = java.util.Arrays.copyOf(buf, math.min(len.toLong, 2L * buf.length).toInt)
      n = in.read(buf, off, buf.length - off)
      if (n > 0) off += n
    }
    if (off < len) null else buf
  }

  /** Open one segment for streaming. binaryFile's `path` is a Hadoop path
    * string (spaces and `%` stay literal), so it is parsed as a Hadoop
    * `Path`, not as a `java.net.URI`. */
  private def openSegment(path: String, conf: org.apache.hadoop.conf.Configuration)
      : java.io.InputStream = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(conf).open(p)
  }

  /** Split an application/http payload into (status, content-type, body);
    * non-HTTP payloads (warcinfo, metadata) pass through whole. */
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

  /** The page-table view of a WARC glob: 200-status HTTP response records
    * as (url, warc_ts, html) — the input_hint schema minus the
    * extraction-derived columns, ready for `Pipeline.extract` after
    * selecting/defaulting text and lang. */
  def readWarc(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    val hadoopConf = org.apache.spark.sql.GraftShim.hadoopConf(spark)
    val conf = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(hadoopConf))
    // the glob is expanded here: handed to the file source as is, it is
    // first probed as a literal streaming-sink directory, which logs a
    // FileNotFoundException. A glob that matches nothing still goes to the
    // source, which fails on it.
    val glob = new org.apache.hadoop.fs.Path(pathGlob)
    val matched = Option(glob.getFileSystem(hadoopConf).globStatus(glob))
      .map(_.map(_.getPath.toString).toSeq).getOrElse(Nil)
    val segments = if (matched.isEmpty) Seq(pathGlob) else matched
    // stream each segment from its path instead of routing the whole file
    // through binaryFile's content column — binaryFile prunes the unread
    // content column, and the incremental scanner caps per-task memory at
    // record size, not segment size
    spark.read.format("binaryFile").load(segments: _*)
      .select($"path")
      .as[String]
      .mapPartitions(_.flatMap(p => parseRecordsStream(openSegment(p, conf.value.value))))
      .filter(r => r.warcType == "response" && r.httpStatus == 200 &&
        r.targetUri.nonEmpty)
      .map(r => (r.targetUri, parseWarcDate(r.date), r.body))
      .toDF("url", "warc_ts", "html")
  }

  /** WARC-Date is ISO-8601 UTC (e.g. 2025-03-01T12:00:00Z). */
  def parseWarcDate(d: String): java.sql.Timestamp =
    try java.sql.Timestamp.from(java.time.Instant.parse(d))
    catch { case _: Exception => new java.sql.Timestamp(0L) }

  /** Serialize records into WARC file bytes (the writer half, used by
    * fixtures and q62's round trip; gzip = per-file compression). */
  def writeWarc(records: Seq[(String, java.sql.Timestamp, Array[Byte])],
                gzip: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    for ((url, ts, html) <- records) {
      val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
        s"Content-Length: ${html.length}\r\n\r\n").getBytes(ISO_8859_1) ++ html
      val date = java.time.format.DateTimeFormatter.ISO_INSTANT
        .format(ts.toInstant)
      val header = ("WARC/1.0\r\n" +
        "WARC-Type: response\r\n" +
        s"WARC-Target-URI: $url\r\n" +
        s"WARC-Date: $date\r\n" +
        "Content-Type: application/http;msgtype=response\r\n" +
        s"Content-Length: ${http.length}\r\n\r\n").getBytes(UTF_8)
      out.write(header)
      out.write(http)
      out.write("\r\n\r\n".getBytes(ISO_8859_1))
    }
    val plain = out.toByteArray
    if (!gzip) plain
    else {
      val bo = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bo)
      gz.write(plain); gz.close()
      bo.toByteArray
    }
  }
}
