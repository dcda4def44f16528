package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.WarcSource

/** WARC (ISO 28500) source: record framing, HTTP payload split, gzip
  * members, hostile truncation and lengths, parity with [[WarcOracle]]. */
class WarcSourceSpec extends AnyFunSuite with graft.TempDirs {
  private def rec(url: String, html: String, tsMs: Long = 1700000000000L) =
    (url, new java.sql.Timestamp(tsMs), html.getBytes("UTF-8"))

  private def parse(bytes: Array[Byte]): Seq[WarcSource.WarcRecord] =
    WarcSource.parseRecordsStream(new java.io.ByteArrayInputStream(bytes)).toSeq

  test("plain round trip: framing, HTTP split, status/date/uri") {
    val bytes = WarcSource.writeWarc(Seq(
      rec("https://a.example/1", "<html><body>unu</body></html>"),
      rec("https://a.example/2", "<html><body>doi</body></html>", 1700000060000L)),
      gzip = false)
    val rs = parse(bytes)
    assert(rs.length == 2)
    assert(rs.map(_.targetUri) == Seq("https://a.example/1", "https://a.example/2"))
    assert(rs.forall(_.warcType == "response"))
    assert(rs.forall(_.httpStatus == 200))
    assert(new String(rs.head.body, "UTF-8") == "<html><body>unu</body></html>")
    assert(WarcSource.parseWarcDate(rs(1).date).getTime == 1700000060000L)
  }

  test("gzip round trip (concatenated-member-safe reader)") {
    val bytes = WarcSource.writeWarc(Seq(rec("https://g.example/x", "<p>gz</p>")),
      gzip = true)
    assert((bytes(0) & 0xFF) == 0x1F && (bytes(1) & 0xFF) == 0x8B)
    val rs = parse(bytes)
    assert(rs.length == 1 && new String(rs.head.body, "UTF-8") == "<p>gz</p>")
  }

  test("a body containing 'WARC/1.0' does not inject a phantom record") {
    val tricky = "<html>WARC/1.0\r\nWARC-Type: response\r\n\r\n</html>"
    val bytes = WarcSource.writeWarc(Seq(rec("https://t.example/x", tricky)), gzip = false)
    val rs = parse(bytes)
    assert(rs.length == 1 && new String(rs.head.body, "UTF-8") == tricky)
  }

  test("truncation degrades to the records parsed so far, never throws") {
    val bytes = WarcSource.writeWarc(Seq(
      rec("https://a.example/1", "<p>" + ("x" * 200) + "</p>"),
      rec("https://a.example/2", "<p>two</p>")), gzip = false)
    for (cut <- 0 to bytes.length by 7) {
      val rs = parse(bytes.take(cut))
      assert(rs.length <= 2)
    }
    // corrupt gzip header: degrades (falls back to raw scan, finds nothing)
    val junk = Array[Byte](0x1F.toByte, 0x8B.toByte, 9, 9, 9)
    assert(parse(junk).isEmpty)
  }

  test("streaming scanner matches the whole-buffer parser record-for-record") {
    def same(bytes: Array[Byte]): Unit = {
      val a = WarcOracle.parseRecords(bytes)
      val b = parse(bytes)
      assert(a.length == b.length)
      for ((x, y) <- a.zip(b)) {
        assert(x.warcType == y.warcType && x.targetUri == y.targetUri &&
          x.date == y.date && x.httpStatus == y.httpStatus &&
          x.httpContentType == y.httpContentType)
        assert(java.util.Arrays.equals(x.body, y.body))
      }
    }
    val recs = (0 until 40).map(i =>
      rec(s"https://s.example/$i", s"<html><body>doc $i ${"y" * (i * 17 % 300)}</body></html>",
        1700000000000L + i * 1000L))
    val plain = WarcSource.writeWarc(recs, gzip = false)
    val gz = WarcSource.writeWarc(recs, gzip = true)
    same(plain)
    same(gz)
    // tricky body + truncation sweep: identical degrade behavior
    same(WarcSource.writeWarc(Seq(rec("https://t/x",
      "<html>WARC/1.0\r\nWARC-Type: response\r\n\r\n</html>")), gzip = false))
    for (cut <- 0 to plain.length by 97) same(plain.take(cut))
    // streaming memory bound is structural (per-record buffers only); pin
    // that a multi-record segment parses lazily: taking 1 record from the
    // iterator does not require consuming the rest of the stream
    val it = WarcSource.parseRecordsStream(new java.io.ByteArrayInputStream(plain))
    assert(it.hasNext && it.next().targetUri == "https://s.example/0")
  }

  test("a Content-Length past the end of the stream costs the bytes present, not the claim") {
    // a 40-byte record that claims a ~2 GiB payload: sized from the header,
    // the payload buffer alone would be 2 GiB
    val hostile = ("WARC/1.0\r\nContent-Length: " + (Int.MaxValue - 1) + "\r\n\r\n")
      .getBytes("ISO-8859-1")
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    assert(parse(hostile).isEmpty) // loads the classes the parse uses
    val before = mx.getCurrentThreadAllocatedBytes
    val rs = parse(hostile)
    val allocated = mx.getCurrentThreadAllocatedBytes - before
    assert(rs.isEmpty)
    assert(allocated < (1L << 20), s"$allocated bytes allocated")
    // the same claim ahead of a real payload still yields the record after
    // a growing read: a short tail degrades, an exact one parses
    val body = "x" * 200000
    val whole = WarcSource.writeWarc(Seq(rec("https://big.example/", body)), gzip = false)
    assert(parse(whole).map(r => new String(r.body, "UTF-8")) == Seq(body))
    assert(parse(whole.dropRight(5)).isEmpty)
  }

  test("non-response and non-200 records are filtered by the reader contract") {
    // hand-build a warcinfo record + a 404 response
    val warcinfo = "WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Type: application/warc-fields\r\nContent-Length: 10\r\n\r\nrobots: ok\r\n\r\n"
    val notFound = {
      val http = "HTTP/1.1 404 Not Found\r\nContent-Type: text/html\r\nContent-Length: 4\r\n\r\ngone"
      s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://x/404\r\nWARC-Date: 2025-01-01T00:00:00Z\r\nContent-Type: application/http;msgtype=response\r\nContent-Length: ${http.length}\r\n\r\n$http\r\n\r\n"
    }
    val rs = parse((warcinfo + notFound).getBytes("ISO-8859-1"))
    assert(rs.length == 2)
    assert(rs.head.warcType == "warcinfo" && rs.head.httpStatus == 0)
    assert(rs(1).httpStatus == 404) // readWarc's filter drops both
  }

  test("readWarc reads segments under directory names with a space or a percent escape") {
    val spark = graft.extract.SparkTestSession.spark
    val root = java.nio.file.Paths.get(tempDir("graft-warc-dirs"))
    for (name <- Seq("warc plain dir", "warc%41pct dir")) {
      val dir = java.nio.file.Files.createDirectories(root.resolve(name))
      java.nio.file.Files.write(dir.resolve("seg-0.warc"), WarcSource.writeWarc(
        Seq(rec("https://w.example/0", "<p>plain</p>")), gzip = false))
      java.nio.file.Files.write(dir.resolve("seg-1.warc.gz"), WarcSource.writeWarc(
        Seq(rec("https://w.example/1", "<p>gz</p>")), gzip = true))
      val rows = WarcSource.readWarc(spark, dir.resolve("seg-*").toString)
        .collect().map(r => (r.getString(0), new String(r.getAs[Array[Byte]](2), "UTF-8")))
        .sortBy(_._1).toSeq
      assert(rows == Seq("https://w.example/0" -> "<p>plain</p>",
        "https://w.example/1" -> "<p>gz</p>"), name)
    }
  }
}
