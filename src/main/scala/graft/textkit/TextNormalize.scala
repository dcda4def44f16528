package graft.textkit

import java.nio.charset.{Charset, CodingErrorAction, StandardCharsets}
import java.nio.{ByteBuffer, CharBuffer}

/** Encoding-artifact repair.
  * Semantics derived from
  * /root/reference/src/pdf_to_markdown_docling/text_normalize.py:5-74.
  */
object TextNormalize {
  private val RomanianDiacritics = "ăâîșțĂÂÎȘȚ"
  private val LigatureMap = List(
    "ﬁ" -> "fi", "ﬂ" -> "fl", "ﬀ" -> "ff", "ﬃ" -> "ffi", "ﬄ" -> "ffl")

  private val Cp1252 = Charset.forName("windows-1252")

  /** The chars a strict windows-1252 encode accepts, as CPython's cp1252
    * codec has them: the JDK's encoder also passes the five unassigned
    * positions (U+0081, U+008D, U+008F, U+0090, U+009D) through as C1
    * bytes, which CPython refuses. No surrogate, paired or not, is in the
    * set. */
  private val Cp1252Encodable: java.util.BitSet = {
    val encoder = Cp1252.newEncoder()
    val chars = new java.util.BitSet(0x10000)
    var c = 0
    while (c < 0x10000) {
      if (encoder.canEncode(c.toChar)) chars.set(c)
      c += 1
    }
    for (undefined <- Seq(0x81, 0x8D, 0x8F, 0x90, 0x9D)) chars.clear(undefined)
    chars
  }

  /** The round trips tried, in order: CP1252 (true), then Latin-1. */
  private val Attempts = Seq(true, false)

  /** text_normalize.py:16-26 */
  def mojibakeScore(text: String): Int = {
    var score = 0
    var i = 0
    while (i < text.length) {
      val ch = text.charAt(i)
      val code = ch.toInt
      if (code >= 0x80 && code <= 0x9F) score += 3
      // Latin-1 letters, except the four Romanian ones (â î Â Î)
      else if (code >= 0xC0 && code <= 0xFF && code != 0xE2 && code != 0xEE &&
        code != 0xC2 && code != 0xCE) score += 1
      else if (code == 0xFFFD) score += 4
      i += 1
    }
    score
  }

  private[textkit] def romanianDiacriticCount(text: String): Int = {
    var count = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (c >= '\u00C2' && RomanianDiacritics.indexOf(c) >= 0) count += 1
      i += 1
    }
    count
  }

  /** Strict `text.encode(enc).decode('utf-8')` round trip, null on failure.
    * An encode that must fail is found by a scan for a char the charset
    * lacks, so it is never tried; the decode reports malformed input as a
    * result, not an exception. */
  private def roundTrip(text: String, cp1252: Boolean): String = {
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (if (cp1252) !Cp1252Encodable.get(c) else c > 'ÿ') return null
      i += 1
    }
    val bytes = text.getBytes(if (cp1252) Cp1252 else StandardCharsets.ISO_8859_1)
    val decoder = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    val out = CharBuffer.allocate(bytes.length)
    if (decoder.decode(ByteBuffer.wrap(bytes), out, true).isError || decoder.flush(out).isError) null
    else out.flip().toString
  }

  /** text_normalize.py:33-64 — CP1252/Latin-1 mojibake round-trip repair. */
  def normalizeMojibakeText(text: String): String = {
    if (text == null || text.length < 4) return text
    val baseScore = mojibakeScore(text)
    if (baseScore == 0) return text

    val baseDiacritics = romanianDiacriticCount(text)
    var best = text
    var bestScore = baseScore

    for (cp1252 <- Attempts) {
      val candidate = roundTrip(text, cp1252)
      if (candidate != null && candidate != text) {
        val candScore = mojibakeScore(candidate)
        if (candScore < bestScore) {
          val candDiacritics = romanianDiacriticCount(candidate)
          val lengthOk = candidate.length >= math.max(4, (text.length * 0.9).toInt)
          if (!(candDiacritics < baseDiacritics + 1 && candScore >= 2) && lengthOk) {
            best = candidate
            bestScore = candScore
          }
        }
      }
    }
    best
  }

  /** text_normalize.py:67-74 */
  def normalizeLigatures(text: String): String = {
    if (text == null || text.isEmpty) return text
    // one scan instead of five contains() passes: every mapped ligature is
    // in U+FB00..FB04, so text without a char in that range is unchanged
    var i = 0
    var hasLig = false
    while (!hasLig && i < text.length) {
      val c = text.charAt(i)
      if (c >= 'ﬀ' && c <= 'ﬄ') hasLig = true
      i += 1
    }
    if (!hasLig) return text
    var out = text
    for ((k, v) <- LigatureMap) if (out.contains(k)) out = out.replace(k, v)
    out
  }
}
